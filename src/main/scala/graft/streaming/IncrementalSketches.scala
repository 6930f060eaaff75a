package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming face of the mergeable-sketch pattern ([[graft.operators.Sketches]]):
  * each arriving micro-batch collapses to a handful of per-shard HLL
  * sketch rows appended to a persisted sketch store; any later distinct-
  * count question (per source, per shard, global) is answered by merging
  * the KB-sized store — the corpus itself is touched exactly once, at
  * ingest.
  *
  * This is the [[IncrementalDedup]] cost inversion applied to statistics:
  * the per-batch work is one map-side-combinable aggregate over the BATCH
  * (never the history), the store grows by |shards| rows per batch, and
  * the read side is O(|store|) regardless of corpus size. HLL union is
  * lossless at a fixed lgK (SketchesSpec), so incrementally-maintained
  * estimates are IDENTICAL to what a from-scratch sketch of the full
  * corpus would report.
  *
  * Exactly-once: same `ingest_batch` stamp discipline as
  * [[IncrementalDedup]] — a replayed micro-batch sees its
  * own batch id already in the store and no-ops; sketching is
  * deterministic, so a repaired append carries identical content.
  */
object IncrementalSketches {

  /** Write the initial sketch store from an existing corpus
    * (`ingest_batch = -1`), establishing the stamped schema.
    */
  def seed(
      df: DataFrame,
      storeDir: String,
      shardCols: Seq[String],
      valueCol: String,
      lgK: Int = Sketches.DefaultLgK
  ): Unit =
    Sketches
      .hllShardSketches(df, shardCols, valueCol, lgK)
      .withColumn(StoreGuard.BatchCol, lit(-1L))
      .write.mode("overwrite").parquet(storeDir)

  /** Sketch one micro-batch and append its shard rows to the store.
    * With `batchId` set, a replay is a no-op. `probeReplay = false`
    * skips the store probe ([[StoreGuard.ReplayProbe]]); returns false
    * iff the batch was a replay no-op.
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      shardCols: Seq[String],
      valueCol: String,
      batchId: Option[Long] = None,
      lgK: Int = Sketches.DefaultLgK,
      probeReplay: Boolean = true
  ): Boolean = {
    if (StoreLoop.replayed(spark, storeDir, batchId, probeReplay)) return false
    StoreLoop.append(spark, Sketches.hllShardSketches(batch, shardCols, valueCol, lgK),
      batchId, storeDir)
    true
  }

  /** Roll the persisted store up to `groupCols` (empty = global) and
    * estimate — O(|store| rows), never a corpus read.
    */
  def estimate(
      spark: SparkSession,
      storeDir: String,
      groupCols: Seq[String]
  ): DataFrame =
    Sketches.hllMergeEstimate(spark.read.parquet(storeDir), groupCols)

  // ---- quantile (KLL) member of the same store pattern ----

  /** Seed a KLL quantile-sketch store from an existing corpus. */
  def seedQuantiles(
      df: DataFrame,
      storeDir: String,
      shardCols: Seq[String],
      valueCol: String,
      k: Int = Sketches.DefaultKllK
  ): Unit =
    Sketches
      .kllShardSketches(df, shardCols, valueCol, k)
      .withColumn(StoreGuard.BatchCol, lit(-1L))
      .write.mode("overwrite").parquet(storeDir)

  /** Sketch one micro-batch's quantile state and append — same stamped
    * exactly-once discipline as [[ingestBatch]]. Within the exactness
    * window (total per rollup group ≤ k) the maintained store answers
    * quantiles IDENTICALLY to a from-scratch pass; past it, within the
    * sketch's O(1/k) rank error (QuantileSketchSpec) — either way the
    * corpus is read once, at ingest.
    */
  def ingestQuantilesBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      shardCols: Seq[String],
      valueCol: String,
      batchId: Option[Long] = None,
      k: Int = Sketches.DefaultKllK,
      probeReplay: Boolean = true
  ): Boolean = {
    if (StoreLoop.replayed(spark, storeDir, batchId, probeReplay)) return false
    StoreLoop.append(spark, Sketches.kllShardSketches(batch, shardCols, valueCol, k),
      batchId, storeDir)
    true
  }

  /** Roll the persisted quantile store up to `groupCols` (empty =
    * global) — O(|store| rows) of KB-sized sketch algebra.
    */
  def quantiles(
      spark: SparkSession,
      storeDir: String,
      groupCols: Seq[String],
      probs: Seq[Double]
  ): DataFrame =
    Sketches.kllMergeQuantiles(spark.read.parquet(storeDir), groupCols, probs)

  /** Attach the quantile-sketch maintenance loop to a stream.
    * `compactEvery` folds the one-file-set-per-batch accretion back
    * ([[CompactCadence]] — KB-scale rows, so the fold is pure
    * file-count maintenance); `asyncCompact` moves the rewrite off
    * the trigger path.
    */
  def attachQuantiles(
      arriving: DataFrame,
      storeDir: String,
      shardCols: Seq[String],
      valueCol: String,
      k: Int = Sketches.DefaultKllK,
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    StoreLoop.attach(arriving, Seq(StoreLoop.Store(storeDir)), checkpointLocation,
      compactEvery, asyncCompact = asyncCompact) { (batch, bid, probe) =>
      ingestQuantilesBatch(arriving.sparkSession, batch, storeDir, shardCols, valueCol,
        batchId = Some(bid), k = k, probeReplay = probe)
    }

  /** Attach the sketch maintenance loop to a stream — same
    * `compactEvery`/`asyncCompact` cadence as [[attachQuantiles]].
    */
  def attach(
      arriving: DataFrame,
      storeDir: String,
      shardCols: Seq[String],
      valueCol: String,
      lgK: Int = Sketches.DefaultLgK,
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    StoreLoop.attach(arriving, Seq(StoreLoop.Store(storeDir)), checkpointLocation,
      compactEvery, asyncCompact = asyncCompact) { (batch, bid, probe) =>
      ingestBatch(arriving.sparkSession, batch, storeDir, shardCols, valueCol,
        batchId = Some(bid), lgK = lgK, probeReplay = probe)
    }
}
