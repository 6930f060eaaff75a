package graft.streaming

import graft.operators.History
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Continuously-maintained SCD type-2 history — the streaming face of
  * [[History.scd2]]: an arriving changelog keeps a persisted,
  * ever-growing versioned-history store current, the same
  * micro-batch-against-persisted-state loop as [[IncrementalDedup]].
  *
  * Store model: an APPEND-ONLY log of collapsed CHANGE rows (key,
  * attrs, ts, tie, batch stamp). Nothing is ever rewritten in place —
  * closing an interval is a READ-time derivation (`lead` over the
  * per-key change rows, [[view]]), so each micro-batch costs one
  * bounded append instead of a table rewrite. The store holds one row
  * per VERSION (≤ one per change), not per event — the view's window
  * runs over the (much smaller) change log.
  *
  * Per micro-batch plan shape:
  *   1. collapse the batch's events per key ([[History.collapsedChanges]]
  *      — batch-bounded window);
  *   2. fetch each affected key's OPEN attributes from the compacted
  *      HEAD store ([[openDir]] — latest row per key, Kafka
  *      compacted-topic semantics), NOT the version log: a broadcast
  *      left-semi prune to the batch's keys, then a hash-aggregable
  *      latest-per-key ([[graft.functions.MinByObject]] — built-in
  *      max_by on a struct carry falls to SortAggregate). Reading the
  *      head makes the per-batch cost O(|batch| + #keys), independent
  *      of how many versions the history holds (Scd2IngestionScale
  *      measures this flat);
  *   3. drop the batch's LEADING rows whose attributes null-safely
  *      equal the open version (the cross-batch collapse — without it
  *      every batch boundary would fabricate a version);
  *   4. append the surviving change rows, stamped with the batch id.
  *
  * Exactly-once: a streaming loop replays a batch after failure; appends
  * are job-atomic (files commit at job end), so replay idempotence is
  * skip-if-present on the `ingest_batch` stamp, and the open-version
  * read EXCLUDES the batch's own stamp so a replay recomputes against
  * exactly the pre-batch state (the [[IncrementalDedup]] discipline).
  *
  * Ordering contract: per-key event time must be non-decreasing ACROSS
  * batches (the changelog-consumer guarantee — Kafka gives it per
  * partition key). A late row older than its key's open version would
  * need retraction/rewrite, which an append-only store cannot express;
  * enforce upstream with a watermark + sort, or fall back to a
  * periodic [[History.scd2]] rebuild.
  */
object IncrementalScd2 {

  private val BatchCol = StoreGuard.BatchCol

  /** The open-version HEAD store: the log-compacted head of the change
    * log (exactly Kafka compacted-topic semantics — latest row per
    * key), kept as a sibling directory so the main store stays a plain
    * parquet dir. Step 2's open-version fetch reads THIS, not the full
    * version log: the head is O(#keys) rows (plus the current batch's
    * un-folded tail), so the per-batch read cost is independent of how
    * many VERSIONS the history has accreted — the property
    * Scd2IngestionScale measures. The version log itself is only ever
    * APPENDED to; nothing per-batch scans it.
    */
  private[graft] def openDir(storeDir: String): String =
    storeDir.stripSuffix("/") + "_open"

  /** Initialize the store from a (possibly empty) changelog batch. */
  def seed(
      events: DataFrame,
      storeDir: String,
      keyCols: Seq[String],
      tsCol: String,
      attrCols: Seq[String],
      tieBreak: Seq[String]
  ): Unit = {
    val collapsed = History
      .collapsedChanges(
        events.select((keyCols ++ attrCols ++ (tsCol +: tieBreak)).map(col): _*),
        keyCols, tsCol, attrCols, tieBreak)
      .withColumn(BatchCol, lit(-1L))
    collapsed.write.mode("overwrite").parquet(storeDir)
    collapsed.write.mode("overwrite").parquet(openDir(storeDir))
    foldOpen(events.sparkSession, storeDir, keyCols, tsCol, attrCols, tieBreak)
  }

  /** Fold one micro-batch of changelog rows into the store.
    * `probeReplay = false` skips the version-log replay probe — only
    * safe when the caller KNOWS the id is fresh
    * ([[StoreGuard.ReplayProbe]]). Returns false iff the batch was a
    * replay no-op.
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      keyCols: Seq[String],
      tsCol: String,
      attrCols: Seq[String],
      tieBreak: Seq[String],
      batchId: Option[Long],
      probeReplay: Boolean = true
  ): Boolean = {
    // the version log is the replay commit point (the open-version HEAD
    // has its own recovery below); a missing log is an EMPTY store, so
    // the first micro-batch of an attach-without-seed creates it
    if (StoreLoop.replayed(spark, storeDir, batchId, probeReplay)) return false

    val cols = (keyCols ++ attrCols ++ (tsCol +: tieBreak)).map(col)
    val withinBatch =
      History.collapsedChanges(batch.select(cols: _*), keyCols, tsCol, attrCols, tieBreak)

    // open-version source: the compacted HEAD store, not the version
    // log — O(#keys) rows regardless of history length. Excluding the
    // batch's own stamp makes a replay recompute against exactly the
    // pre-batch state (crash-leftover rows from a half-committed run
    // carry this batch's stamp and drop out here). Recovery paths: a
    // head lost in foldOpen's rename window is REBUILT from the version
    // log here, BEFORE this batch's append (appending first would make
    // the end-of-batch fold see only this batch's keys and drop every
    // other key's open version); no store at all reads as empty — the
    // attach-without-seed bootstrap.
    val openStore = StoreGuard.readStore(spark, openDir(storeDir)).getOrElse {
      StoreGuard.readStore(spark, storeDir) match {
        case Some(log) =>
          // one O(log) copy on the rare crash-recovery path; the
          // end-of-batch fold collapses it back to one row per key
          log.write.mode("overwrite").parquet(openDir(storeDir))
          spark.read.parquet(openDir(storeDir))
        case None =>
          withinBatch.limit(0).withColumn(BatchCol, lit(-1L))
      }
    }
    val prior = batchId.fold(openStore)(b => openStore.filter(col(BatchCol) =!= b))

    // open version per affected key: semi-prune the head to the
    // batch's keys, latest change row wins (ts, tie ordering)
    val batchKeys = batch.select(keyCols.map(col): _*).distinct()
    val attrs = struct(attrCols.map(col): _*)
    val open = prior
      .join(broadcast(batchKeys), keyCols, "left_semi")
      .groupBy(keyCols.map(col): _*)
      .agg(graft.functions.MinByObject
        .maxBy(attrs, struct((tsCol +: tieBreak).map(col): _*))
        .as("__open"))

    // cross-batch collapse: within the batch, lag() supplies the
    // previous attrs; for each key's FIRST batch row, the store's open
    // version does. A key new to the store keeps its first row
    // (struct <=> null is false).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((tsCol +: tieBreak).map(col): _*)
    val changes = withinBatch
      .join(broadcast(open), keyCols, "left")
      .withColumn("__prev", coalesce(lag(attrs, 1).over(w), col("__open")))
      .filter(!(attrs <=> col("__prev")))
      .select(cols: _*)

    // Materialize the change rows ONCE before either append (r20): the
    // change plan READS the open store, and the head append MODIFIES
    // it — an unpinned second append would re-execute the whole
    // window+join chain (2× the per-trigger compute) against a store
    // the first append just changed. StoreLoop.append pins them, and
    // its count sees the PRE-append state by construction.
    // Ordering is load-bearing: head append first, version-log append
    // second (the COMMIT point the replay check reads), head fold LAST.
    // A crash between the appends leaves stamped head rows that the
    // next run (a replay of this batch) excludes and re-appends —
    // duplicates carry identical payloads, so the fold's latest-per-key
    // collapse is unaffected. The fold never destroys pre-batch state
    // until the batch is committed in the version log. Zero-change
    // batches skip the appends AND the fold (an empty append still grows
    // both stores' file counts); the success event publishes only after
    // both appends commit (r17 ADVICE).
    val nChanges = StoreLoop.append(spark, changes, batchId, openDir(storeDir), storeDir)
    if (nChanges > 0)
      foldOpen(spark, storeDir, keyCols, tsCol, attrCols, tieBreak)
    true
  }

  /** Fold the head store back to one row per key (latest by ts, tie) —
    * the log-compaction step. O(#keys) read + write, swapped in with
    * the [[graft.sources.Lake.compact]] two-rename idiom (local-FS
    * rename here; an object-store deployment swaps via its atomic
    * rename/commit primitive).
    */
  private def foldOpen(
      spark: SparkSession,
      storeDir: String,
      keyCols: Seq[String],
      tsCol: String,
      attrCols: Seq[String],
      tieBreak: Seq[String]
  ): Unit = {
    val path = openDir(storeDir)
    val tmp = s"$path.__fold_tmp"
    val old = s"$path.__fold_old"
    // crash hygiene, in dependence order: stale swap dirs from a fold
    // that died mid-sequence would make the renames below fail forever
    // — clear them first. Deleting a set-aside __fold_old is safe
    // because the version log is a strict superset of any head; and if
    // the crash landed between the two renames (head dir GONE), rebuild
    // the head from the version log — latest-per-key over the full log
    // IS the head, so the docstring's crash-safety claim actually holds.
    rmDir(new java.io.File(tmp))
    rmDir(new java.io.File(old))
    val df = StoreGuard
      .readStore(spark, path)
      .getOrElse(spark.read.parquet(storeDir))
    val payloadCols = attrCols ++ (tsCol +: tieBreak) :+ BatchCol
    val folded = df
      .groupBy(keyCols.map(col): _*)
      .agg(graft.functions.MinByObject
        .maxBy(struct(payloadCols.map(col): _*),
          struct((tsCol +: tieBreak).map(col): _*))
        .as("__p"))
      .select(keyCols.map(col) ++
        payloadCols.map(c => col(s"__p.$c").as(c)): _*)
    folded.write.mode("overwrite").parquet(tmp)
    val p = new java.io.File(path)
    val t = new java.io.File(tmp)
    val o = new java.io.File(old)
    if (p.exists()) // absent after a mid-swap crash: nothing to set aside
      require(p.renameTo(o), s"foldOpen: could not set aside $path")
    require(t.renameTo(p), s"foldOpen: could not swap in $tmp")
    rmDir(o)
  }

  private def rmDir(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmDir)
    f.delete()
  }

  /** The full SCD2 view over the store: validity intervals, versions
    * and `is_current` derived from the persisted change rows (already
    * collapsed, so this is interval math only — one keyed exchange).
    */
  def view(
      spark: SparkSession,
      storeDir: String,
      keyCols: Seq[String],
      tsCol: String,
      attrCols: Seq[String],
      tieBreak: Seq[String]
  ): DataFrame =
    History.scd2(
      spark.read.parquet(storeDir).drop(BatchCol),
      keyCols, tsCol, attrCols, tieBreak, collapseUnchanged = false)

  /** Drive the loop from a stream: one [[ingestBatch]] per micro-batch.
    *
    * @param compactEvery every N batches, fold the store's accreted
    *   per-batch files back to ~`targetBytes` files
    *   ([[graft.sources.Lake.compact]]) — without it a long-running
    *   loop accumulates one file set per micro-batch and the store
    *   read in step 2 becomes footer-bound. The `ingest_batch` stamp
    *   is a data COLUMN, so replay idempotence survives the rewrite;
    *   compaction only needs the store quiescent, which [[StoreLoop]]
    *   guarantees (batches of one query never overlap).
    */
  def attach(
      arriving: DataFrame,
      storeDir: String,
      keyCols: Seq[String],
      tsCol: String,
      attrCols: Seq[String],
      tieBreak: Seq[String],
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None,
      compactTargetBytes: Long = 128L * 1024 * 1024,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    // asyncCompact: rewrite off the trigger path, swap at a later
    // trigger boundary (the IncrementalDedup discipline — measured
    // guidance on that attach's scaladoc). Applies to the version LOG;
    // the open-version HEAD is already folded in-place per batch.
    StoreLoop.attach(arriving, Seq(StoreLoop.Store(storeDir)), checkpointLocation,
      compactEvery, compactTargetBytes, asyncCompact) { (batch, bid, probe) =>
      ingestBatch(arriving.sparkSession, batch, storeDir, keyCols, tsCol, attrCols, tieBreak,
        batchId = Some(bid), probeReplay = probe)
    }
}
