package graft.streaming

import graft.sources.{AsyncCompactor, Lake}
import org.apache.spark.sql.SparkSession

/** Per-store compaction cadence, one per store of a [[StoreLoop]]:
  * every micro-batch appends one file set, so a long-running loop's
  * store read goes footer-bound without periodic folding — the measured
  * 300-batch replay (BASELINE.md r16/r17) put the crossover at ~500–700
  * store files, with the async arm (rewrite off the trigger, swap at a
  * later trigger boundary) winning the per-batch average.
  *
  * [[StoreLoop.attach]] calls [[finishPending]] FIRST at each trigger
  * (before the batch reads the store) and [[maybeCompact]] after the
  * batch's append — both on the loop thread, which `foreachBatch`
  * guarantees is the only appender. Content is preserved row-for-row
  * (the `ingest_batch` stamp is a data column), so replay idempotence
  * survives any rewrite.
  *
  * Guidance (measured): leave the cadence OFF for short-lived loops —
  * below the file-count crossover the rewrites cost more than they
  * save. Plain-parquet stores only; a bucketed catalog table's layout
  * is owned by the catalog.
  *
  * @param every   compact every N batches (None = never)
  * @param async   rewrite on a background thread ([[AsyncCompactor]]);
  *                the trigger pays only the swap
  * @param offset  fire when `(batchId + offset) % every == 0` (and the
  *                shifted id is positive) — [[IncrementalDedup]] keeps
  *                its spec-pinned `(bid + 1) % n` cadence via offset 1
  */
private[streaming] final class CompactCadence(
    spark: SparkSession,
    storeDir: String,
    every: Option[Int],
    async: Boolean,
    targetBytes: Long,
    sortCols: Seq[String],
    rangeCols: Seq[String],
    offset: Int
) {
  require(every.forall(_ > 0), "compactEvery must be positive")

  private val compactor: Option[AsyncCompactor] =
    if (every.isDefined && async)
      Some(new AsyncCompactor(spark, storeDir, targetBytes, sortCols, rangeCols))
    else None

  /** Install a finished background rewrite, if any — the two-rename
    * swap + late-append rescue on the loop thread. No-op in sync mode.
    */
  def finishPending(batchId: Long): Unit =
    compactor.foreach(_.maybeFinish()
      .foreach(n => RuntimeEventBus.compacted(storeDir, Some(batchId), n)))

  /** At the cadence: run the rewrite on the trigger (sync) or launch
    * it in the background (async — a launch while one is already in
    * flight is a no-op, so a cadence shorter than the rewrite degrades
    * gracefully instead of stacking threads).
    */
  def maybeCompact(batchId: Long): Unit =
    every.foreach { n =>
      if (batchId + offset > 0 && (batchId + offset) % n == 0) {
        compactor match {
          case Some(c) => c.start()
          case None =>
            RuntimeEventBus.compacted(storeDir, Some(batchId),
              Lake.compact(spark, storeDir, targetBytes, sortCols, rangeCols))
        }
      }
    }
}
