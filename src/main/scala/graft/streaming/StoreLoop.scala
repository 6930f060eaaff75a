package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one exactly-once driver behind every incremental store loop
  * ([[IncrementalDedup]], [[IncrementalAnn]], [[IncrementalBm25]],
  * [[IncrementalScd2]], [[IncrementalGraph]], [[IncrementalManifest]],
  * [[IncrementalSelection]], [[IncrementalSketches]]): a micro-batch is a
  * deterministic, replayable unit, and a store append is idempotent
  * through its batch-id stamp. Each store contributes only its
  * transform; the sequence lives here:
  *
  *   - [[attach]] owns the trigger: `finishPending` (install a finished
  *     background compaction) → ingest → `probe.ingested()` on a fresh
  *     batch → `maybeCompact`, plus the `checkpointLocation` option;
  *   - [[replayed]] is the ingest head: heal a crashed compaction swap
  *     (`Lake.recoverCompact`) BEFORE any read, then probe the store for
  *     the batch id while the [[StoreGuard.ReplayProbe]] asks for it;
  *   - [[append]] is the ingest tail: stamp, materialize once, size the
  *     append from the row count ([[StoreGuard.appendParts]]), append,
  *     report `batch.ingested`.
  *
  * Sidecar dirs nested under a store survive compaction
  * (`Lake.rescueLateAppends` carries them); non-parquet state belongs
  * nowhere else inside a store dir.
  */
private[streaming] object StoreLoop {

  /** One store a loop appends to: its dir and the layout its compaction
    * repacks to (pick the columns the store's probes filter on).
    */
  final case class Store(dir: String, sortCols: Seq[String] = Nil, rangeCols: Seq[String] = Nil)

  /** Start the loop over `arriving`. `ingest(batch, batchId, probeReplay)`
    * returns false iff the batch was a replay no-op. `cadenceOffset`
    * shifts every store's compaction cadence ([[CompactCadence]]).
    */
  def attach(
      arriving: DataFrame,
      stores: Seq[Store],
      checkpointLocation: Option[String],
      compactEvery: Option[Int],
      compactTargetBytes: Long = 128L * 1024 * 1024,
      asyncCompact: Boolean,
      cadenceOffset: Int = 0
  )(ingest: (DataFrame, Long, Boolean) => Boolean): StreamingQuery = {
    val spark = arriving.sparkSession
    val cadences = stores.map(s => new CompactCadence(spark, s.dir, compactEvery,
      asyncCompact, compactTargetBytes, s.sortCols, s.rangeCols, cadenceOffset))
    val probe = new StoreGuard.ReplayProbe
    val writer = arriving.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // install finished background rewrites FIRST, before the batch
        // reads a store (loop thread — no append can race the swap)
        cadences.foreach(_.finishPending(bid))
        if (ingest(batch, bid, probe.needed)) probe.ingested()
        cadences.foreach(_.maybeCompact(bid))
      }
    checkpointLocation
      .fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** Ingest head: repair `dir` after a crash inside a compaction swap
    * (two existence checks when healthy), run `beforeProbe`, and answer
    * whether `batchId` is already in the store. A missing or partial
    * store holds no batch, so a loop attached without `seed` bootstraps
    * its store on the first micro-batch. With `probeReplay` false
    * neither `beforeProbe` nor the probe runs — only safe when the
    * caller KNOWS the id is fresh ([[StoreGuard.ReplayProbe]]).
    */
  def replayed(
      spark: SparkSession,
      dir: String,
      batchId: Option[Long],
      probeReplay: Boolean,
      beforeProbe: => Unit = ()
  ): Boolean = {
    Lake.recoverCompact(dir)
    probeReplay && {
      beforeProbe
      batchId.exists(StoreGuard.hasBatch(spark, dir, StoreGuard.BatchCol, _))
    }
  }

  /** Ingest tail: stamp `rows` with `batchId` (-1 without one),
    * materialize them ONCE, and append them to each of `dirs` in order,
    * sized to one file per ~50k rows. The count sizes the append and is
    * the `batch.ingested` figure, so an observer costs no second pass
    * over the batch's lineage; the event names the LAST dir (the commit
    * point) and fires only after every append landed. A zero-row batch
    * writes nothing — an empty append would still add files. Returns
    * the row count.
    */
  def append(spark: SparkSession, rows: DataFrame, batchId: Option[Long], dirs: String*): Long = {
    val stamped = rows.withColumn(StoreGuard.BatchCol, lit(batchId.getOrElse(-1L))).persist()
    val n = stamped.count()
    if (n > 0) {
      val out = stamped.coalesce(StoreGuard.appendParts(spark, n))
      dirs.foreach(out.write.mode("append").parquet(_))
    }
    RuntimeEventBus.ingested(dirs.last, batchId, n)
    stamped.unpersist()
    n
  }
}
