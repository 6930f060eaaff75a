package graft.streaming

import graft.operators.Quality
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming face of [[Quality.check]]: every micro-batch is scored
  * against the declared constraints (still ONE aggregate per batch) and
  * the per-constraint report rows are appended to a monitor log stamped
  * with the batch id — the ingest-side contract check that catches a
  * broken upstream (nulls, duplicate keys, schema drift shaped as
  * out-of-set values) within one batch instead of at training time.
  * Same [[IncrementalDedup]] replay discipline: a replayed batch id
  * no-ops.
  */
object QualityMonitor {

  private[graft] val BatchCol = StoreGuard.BatchCol

  /** Score one micro-batch; append its report rows. */
  def scoreBatch(
      spark: SparkSession,
      batch: DataFrame,
      constraints: Seq[Quality.Constraint],
      monitorDir: String,
      threshold: Double = 1.0,
      batchId: Option[Long] = None
  ): Unit = {
    batchId match {
      case Some(b) if StoreGuard.hasBatch(spark, monitorDir, BatchCol, b) => return
      case _ => ()
    }
    Quality
      .check(batch, constraints, threshold)
      .withColumn(BatchCol, lit(batchId.getOrElse(-1L)))
      .write.mode("append").parquet(monitorDir)
  }

  /** Attach the per-batch constraint check to a stream. */
  def attach(
      arriving: DataFrame,
      constraints: Seq[Quality.Constraint],
      monitorDir: String,
      threshold: Double = 1.0,
      checkpointLocation: Option[String] = None
  ): StreamingQuery = {
    val spark = arriving.sparkSession
    val writer = arriving.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        scoreBatch(spark, batch, constraints, monitorDir, threshold,
          batchId = Some(bid))
      }
    checkpointLocation
      .fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }
}
