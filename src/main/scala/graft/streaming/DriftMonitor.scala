package graft.streaming

import graft.operators.Anomaly
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming distribution-drift monitor: the reference bin counts are
  * persisted ONCE ([[Anomaly.binCounts]] of a trusted snapshot); each
  * arriving micro-batch is binned scan-locally and scored against them
  * ([[Anomaly.psiFromCounts]]), and one (batch id, PSI, alert) row is
  * appended to the monitor log — the retraining tripwire a 100 TB
  * ingest pipeline runs alongside [[IncrementalSketches]].
  *
  * Per-batch cost: one count aggregate over the BATCH plus bins-sized
  * frame math — the reference snapshot is never re-read (its counts
  * table is a few rows of parquet). Same `ingest_batch` replay
  * discipline as [[IncrementalDedup]]: a replayed batch id no-ops.
  */
object DriftMonitor {

  private[graft] val BatchCol = StoreGuard.BatchCol

  /** Persist the reference distribution's dense bin counts. */
  def seedReference(
      ref: DataFrame,
      valueCol: String,
      binEdges: Seq[Double],
      refDir: String
  ): Unit =
    Anomaly
      .binCounts(ref, valueCol, binEdges)
      .write.mode("overwrite").parquet(refDir)

  /** Score one micro-batch; append its monitor row. Replay-idempotent
    * with `batchId` set.
    */
  def scoreBatch(
      spark: SparkSession,
      batch: DataFrame,
      valueCol: String,
      binEdges: Seq[Double],
      refDir: String,
      monitorDir: String,
      threshold: Double = 0.25,
      batchId: Option[Long] = None
  ): Unit = {
    batchId match {
      case Some(b) if StoreGuard.hasBatch(spark, monitorDir, BatchCol, b) => return
      case _ => ()
    }
    Anomaly
      .psiFromCounts(
        spark.read.parquet(refDir),
        Anomaly.binCounts(batch, valueCol, binEdges))
      .agg(round(sum(col("psi_term")), 6).as("psi"))
      .select(
        lit(batchId.getOrElse(-1L)).as(BatchCol),
        col("psi"),
        (col("psi") > threshold).as("alert"))
      .write.mode("append").parquet(monitorDir)
  }

  /** Attach the monitor loop to a stream of raw rows. */
  def attach(
      arriving: DataFrame,
      valueCol: String,
      binEdges: Seq[Double],
      refDir: String,
      monitorDir: String,
      threshold: Double = 0.25,
      checkpointLocation: Option[String] = None
  ): StreamingQuery = {
    val spark = arriving.sparkSession
    val writer = arriving.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        scoreBatch(spark, batch, valueCol, binEdges, refDir, monitorDir,
          threshold, batchId = Some(bid))
      }
    checkpointLocation
      .fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }
}
