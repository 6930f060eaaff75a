package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The shared store-loop head and tail ([[StoreLoop]]) across every store
  * family: a crash between a compaction's two renames (live dir set aside
  * at `<dir>.__compact_old`, nothing swapped in) heals on the next ingest,
  * and each batch lands exactly once — the store equals one built by the
  * same batches with no crash. Plus the tail's append sizing.
  */
class StoreLoopSpec extends SparkSpec {
  import spark.implicits._

  /** One store family: `ingest(root, batchId)` runs the family's
    * `ingestBatch` for batch `batchId` with stores under `root`; `dirs`
    * names the stamped stores it appends to (relative to `root`).
    */
  private case class Family(
      name: String,
      dirs: Seq[String],
      ingest: (String, Long) => Boolean,
      prepare: String => Unit = _ => ())

  private val centroids =
    Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "centroid_vec")

  private val novelDocs = Seq(
    "quantum harmonic oscillators describe vibrating molecules in physical chemistry",
    "medieval castles were built with thick stone walls and deep surrounding moats")

  private def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  private val families = Seq(
    Family("dedup", Seq("corpus", "bands"),
      (r, b) => IncrementalDedup.ingestBatch(spark,
        Seq((100L + b, novelDocs(b.toInt))).toDF("doc_id", "text"),
        s"$r/corpus", s"$r/bands", batchId = Some(b)),
      r => IncrementalDedup.seed(
        Seq((1L, "the seeded corpus document with enough distinct words to shingle"))
          .toDF("doc_id", "text"),
        s"$r/corpus", s"$r/bands")),
    Family("ann", Seq("ann"),
      (r, b) => IncrementalAnn.ingestBatch(spark,
        Seq((10 * b + 1, Seq(0.9f, 0.1f)), (10 * b + 2, Seq(0.1f, 0.8f)))
          .toDF("vec_id", "embedding"),
        s"$r/ann", centroids, "vec_id", "embedding", batchId = Some(b))),
    Family("bm25", Seq("bm25"),
      (r, b) => IncrementalBm25.ingestBatch(spark,
        Seq((10 * b + 1, s"alpha beta b$b"), (10 * b + 2, "beta delta")).toDF("doc_id", "text"),
        s"$r/bm25", batchId = Some(b))),
    Family("scd2", Seq("scd2"),
      (r, b) => IncrementalScd2.ingestBatch(spark,
        Seq(("A", ts(2 * b.toInt), 0L, s"a$b"), ("B", ts(2 * b.toInt + 1), 1L, s"b$b"))
          .toDF("k", "ts", "id", "attr"),
        s"$r/scd2", Seq("k"), "ts", Seq("attr"), Seq("id"), batchId = Some(b))),
    Family("graph", Seq("graph"),
      (r, b) => IncrementalGraph.ingestBatch(spark,
        Seq((b, b + 1), (b + 1, b + 2)).toDF("src", "dst"), s"$r/graph", batchId = Some(b))),
    Family("manifest", Seq("manifest"),
      (r, b) => IncrementalManifest.ingestBatch(spark,
        Seq((10 * b + 1, "x"), (10 * b + 2, "y")).toDF("id", "text"),
        s"$r/manifest", "id", Seq("id", "text"), nShards = 4, seed = "s", batchId = Some(b))),
    Family("selection", Seq("dsir"),
      (r, b) => IncrementalSelection.ingestBatch(spark,
        Seq((1L, s"target text $b"), (2L, "raw text there")).toDF("doc_id", "text"),
        s"$r/dsir", "text", col("doc_id") === 1L, buckets = 32, batchId = Some(b))),
    Family("sketches", Seq("hll"),
      (r, b) => IncrementalSketches.ingestBatch(spark,
        Seq(("s1", s"tok$b"), ("s2", "tok")).toDF("source", "token"),
        s"$r/hll", Seq("source"), "token", batchId = Some(b))),
    Family("quantiles", Seq("kll"),
      (r, b) => IncrementalSketches.ingestQuantilesBatch(spark,
        Seq(("a", 1.0 + b), ("b", 2.0 * b)).toDF("source", "v"),
        s"$r/kll", Seq("source"), "v", batchId = Some(b)))
  )

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  for (f <- families)
    test(s"${f.name}: a crash between compaction's two renames heals on the next ingest, " +
      "and each batch lands exactly once") {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_storeloop_${f.name}")
      val (crashed, clean) = (s"$tmp/crashed", s"$tmp/clean")
      for (r <- Seq(crashed, clean)) f.prepare(r)

      assert(f.ingest(crashed, 0L))
      for (d <- f.dirs)
        assert(new java.io.File(s"$crashed/$d").renameTo(
          new java.io.File(s"$crashed/$d.__compact_old")))
      assert(f.ingest(crashed, 1L), "batch 1 is fresh")
      assert(!f.ingest(crashed, 0L), "a replay of batch 0 after recovery must no-op")
      for (b <- Seq(0L, 1L)) assert(f.ingest(clean, b))

      val leftovers = new java.io.File(crashed).list().filter(_.contains(".__compact_"))
      assert(leftovers.isEmpty, s"compaction siblings left behind: ${leftovers.mkString(", ")}")
      for (d <- f.dirs) {
        assert(new java.io.File(s"$crashed/$d").isDirectory, s"$d: live dir not restored")
        val got = spark.read.parquet(s"$crashed/$d")
        val want = spark.read.parquet(s"$clean/$d")
        for (b <- Seq(0L, 1L))
          assert(!got.filter(col(StoreGuard.BatchCol) === b).isEmpty, s"$d: batch $b missing")
        assert(sameRows(got, want), s"$d: store differs from the crash-free build")
      }
    }

  test("graph and ann ingests of an 8-partition batch append exactly one parquet file") {
    val root = java.nio.file.Files.createTempDirectory("graft_storeloop_parts").toString
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))

    val edges = (0L until 64L).map(i => (i, i + 1)).toDF("src", "dst").repartition(8)
    assert(edges.rdd.getNumPartitions == 8)
    assert(IncrementalGraph.ingestBatch(spark, edges, s"$root/graph", batchId = Some(0L)))
    assert(parquetFiles(s"$root/graph") == 1)

    val vecs = (0L until 64L).map(i => (i, Seq((i % 7).toFloat, 1f))).toDF("vec_id", "embedding")
      .repartition(8)
    assert(IncrementalAnn.ingestBatch(spark, vecs, s"$root/ann", centroids, "vec_id", "embedding",
      batchId = Some(0L)))
    assert(parquetFiles(s"$root/ann") == 1)
  }
}
