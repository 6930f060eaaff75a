package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming faces of the round-10 batch curation gates — fuzzy
  * decontamination and perplexity (unigram-LM) gating — as
  * `foreachBatch` components against PERSISTED model tables, the
  * [[IncrementalDedup]] pattern:
  *
  *   - the EXPENSIVE side is computed once at seed time (the eval set's
  *     band table + verify text; the reference corpus' term-frequency
  *     table + bucket cutoffs) and persisted;
  *   - each micro-batch pays only batch-sized work: per-row banding +
  *     an equi-join against the stored bands (never re-shingling the
  *     eval set), or a term join against the stored vocabulary (never
  *     re-scoring the reference corpus);
  *   - appends are stamped with `ingest_batch` and replay-idempotent:
  *     a replayed batch that is already fully appended is a no-op
  *     (foreachBatch replays after failures; a plain append would
  *     double-write).
  *
  * Scale: the per-batch plans touch |batch| rows plus the matched band
  * buckets / vocabulary terms — nothing scales with the corpus that
  * already landed. Eval-set verify text is fetched through a bounded
  * candidate-id `isin` pushdown (the IncrementalDedup corpus-fetch
  * trick; eval sets are small, so the cap is a formality).
  */
object StreamingCuration {

  private val BatchCol = StoreGuard.BatchCol

  private def hasBatch(spark: SparkSession, dir: String, b: Long): Boolean =
    StoreGuard.hasBatch(spark, dir, BatchCol, b)

  // ---- fuzzy decontamination ---------------------------------------

  /** Persist the eval set once: its UNCAPPED band table (`$dir/bands`)
    * and its verify text (`$dir/text`, id-clustered so the per-batch
    * candidate-id fetch prunes files via parquet min/max stats).
    */
  def seedEvalSet(
      evalSet: DataFrame,
      evalDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Unit = {
    Dedup.bandedSignatures(evalSet, idCol, textCol)
      .write.mode("overwrite").parquet(s"$evalDir/bands")
    evalSet.select(col(idCol), col(textCol))
      .repartitionByRange(col(idCol)).sortWithinPartitions(idCol)
      .write.mode("overwrite").parquet(s"$evalDir/text")
  }

  /** One micro-batch of fuzzy decontamination: per-row band the batch,
    * equi-join the stored eval bands, fetch ONLY the candidate eval
    * docs' text, exact-Jaccard confirm, and return the batch with
    * `n_eval_matches` / `max_jaccard` appended (0 / null for clean
    * rows). Semantics pin: on equal inputs the flagged set equals the
    * batch operator [[graft.operators.Curation.decontaminateFuzzy]]'s
    * (StreamingCurationSpec).
    */
  def decontaminateBatch(
      spark: SparkSession,
      batch: DataFrame,
      evalDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.5,
      maxBucketSize: Option[Int] = Some(1000),
      idPushdownCap: Int = 100000
  ): DataFrame = {
    val evalBands = spark.read.parquet(s"$evalDir/bands")
    val cands = Dedup
      .candidatesAgainstBanded(batch, evalBands, idCol, textCol,
        maxBucketSize = maxBucketSize)
      .select(col("new_id").as("doc1"), col("corpus_id").as("doc2"))
      .persist()
    try {
      val evalText = spark.read.parquet(s"$evalDir/text")
      val candEvalIds = cands.select(col("doc2")).distinct()
        .limit(idPushdownCap + 1).collect().map(_.getLong(0))
      val evalFetched =
        if (candEvalIds.length <= idPushdownCap && candEvalIds.nonEmpty)
          evalText.filter(col(idCol).isin(candEvalIds.toIndexedSeq: _*))
        else if (candEvalIds.isEmpty) evalText.limit(0)
        else evalText // over the cap: full (still eval-sized) scan
      val both = batch.select(col(idCol), col(textCol))
        .union(evalFetched.select(col(idCol), col(textCol)))
      val flagged = Dedup
        .verifyCandidates(cands, both, idCol, textCol, minJaccard = minJaccard)
        .groupBy(col("doc1"))
        .agg(
          count_distinct(col("doc2")).as("n_eval_matches"),
          max(col("jaccard")).as("max_jaccard"))
        .withColumnRenamed("doc1", idCol)
      batch
        .join(flagged, Seq(idCol), "left")
        .withColumn("n_eval_matches", coalesce(col("n_eval_matches"), lit(0L)))
    } finally cands.unpersist()
  }

  /** Attach the decontamination loop to a stream: per micro-batch,
    * annotate against the seeded eval set and append the CLEAN rows to
    * `outDir`, stamped and replay-idempotent.
    */
  def attachDecontaminate(
      docs: DataFrame,
      evalDir: String,
      outDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.5
  ): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!hasBatch(spark, outDir, batchId)) {
          decontaminateBatch(spark, batch, evalDir, idCol, textCol, minJaccard)
            .filter(col("n_eval_matches") === 0)
            .drop("n_eval_matches", "max_jaccard")
            .withColumn(BatchCol, lit(batchId))
            .write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()

  // ---- perplexity (unigram-LM) gating ------------------------------

  /** Persist the reference LM once: the term-frequency table
    * (`$dir/freq`: term, c), the corpus token total and the
    * `avg_neg_logprob` bucket cutoffs (`$dir/cutoffs`: one row,
    * approx_percentile over the reference corpus' own scores — the
    * [[graft.operators.TextAnalysis.perplexityBuckets]] exact=false
    * convention).
    */
  def seedLanguageModel(
      refCorpus: DataFrame,
      modelDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 3
  ): Unit = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val scored = graft.operators.TextAnalysis.unigramLogProb(refCorpus, idCol, textCol)
    val tok = refCorpus
      .select(explode(split(col(textCol), " ")).as("term"))
    val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
    freq.write.mode("overwrite").parquet(s"$modelDir/freq")
    val fracs = (1 until buckets).map(i => lit(i.toDouble / buckets))
    scored
      .agg(percentile_approx(col("avg_neg_logprob"), array(fracs: _*), lit(10000)).as("cuts"))
      .crossJoin(broadcast(freq.agg(sum(col("c")).as("total"))))
      .write.mode("overwrite").parquet(s"$modelDir/cutoffs")
  }

  /** Score one micro-batch against the persisted LM and assign quality
    * buckets (1 = most reference-typical). Out-of-vocabulary terms take
    * the add-one floor count 1 — the seeded corpus never saw them, and
    * the whole point of the gate is that OOV-heavy word salad lands in
    * the tail bucket rather than crashing the join.
    */
  def gateBatch(
      spark: SparkSession,
      batch: DataFrame,
      modelDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val freq = spark.read.parquet(s"$modelDir/freq")
    val cutRow = spark.read.parquet(s"$modelDir/cutoffs").head()
    val cuts = cutRow.getAs[scala.collection.Seq[Double]]("cuts")
    val total = cutRow.getAs[Long]("total")
    val tok = batch
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val scored = tok
      .join(freq, Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_words"),
        round(avg(-log(coalesce(col("c"), lit(1L)).cast("double") / total)), 6)
          .as("avg_neg_logprob"))
    val bucket = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col("avg_neg_logprob") > c, 1).otherwise(0)
    }
    batch.join(
      scored.withColumn("bucket", bucket).select(col(idCol), col("n_words"),
        col("avg_neg_logprob"), col("bucket")),
      Seq(idCol), "left")
  }

  /** Persist the Naive-Bayes quality model (the round-11 batch
    * classifier, [[graft.operators.TextAnalysis.nbTokenWeights]]): the
    * vocabulary-sized log-odds table + the one-row prior. The labeled
    * pass — the only corpus-scale work — happens HERE, once.
    */
  def seedNbClassifier(
      labeled: DataFrame,
      modelDir: String,
      textCol: String = "text",
      labelCol: String = "y"
  ): Unit = {
    val (weights, prior) =
      graft.operators.TextAnalysis.nbTokenWeights(labeled, textCol, labelCol)
    weights.write.mode("overwrite").parquet(s"$modelDir/weights")
    prior.write.mode("overwrite").parquet(s"$modelDir/prior")
  }

  /** Score one micro-batch against the persisted NB model —
    * batch-sized work only (the weight join broadcasts). */
  def nbBatch(
      spark: SparkSession,
      batch: DataFrame,
      modelDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    graft.operators.TextAnalysis.nbScore(
      batch, idCol, textCol,
      spark.read.parquet(s"$modelDir/weights"),
      spark.read.parquet(s"$modelDir/prior"))

  /** Attach the NB quality gate to a stream: per micro-batch, score
    * against the seeded model and append rows with `score > minScore`
    * to `outDir`, stamped and replay-idempotent.
    */
  def attachNbGate(
      docs: DataFrame,
      modelDir: String,
      outDir: String,
      checkpointDir: String,
      minScore: Double = 0.0,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!hasBatch(spark, outDir, batchId)) {
          nbBatch(spark, batch, modelDir, idCol, textCol)
            .filter(col("score") > minScore)
            .join(batch, Seq(idCol))
            .withColumn(BatchCol, lit(batchId))
            .write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()

  /** Attach the perplexity gate to a stream: per micro-batch, score
    * against the seeded LM and append rows in buckets ≤ `keepMaxBucket`
    * to `outDir`, stamped and replay-idempotent.
    */
  def attachGate(
      docs: DataFrame,
      modelDir: String,
      outDir: String,
      checkpointDir: String,
      keepMaxBucket: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!hasBatch(spark, outDir, batchId)) {
          gateBatch(spark, batch, modelDir, idCol, textCol)
            .filter(col("bucket") <= keepMaxBucket)
            .withColumn(BatchCol, lit(batchId))
            .write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()
}
