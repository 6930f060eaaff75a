package graftbench

import graft.streaming.{IncrementalAnn, IncrementalDedup}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The incremental store loops: document and embedding slices land as
  * files; one operation is one `foreachBatch` trigger of
  * `IncrementalDedup` and one of `IncrementalAnn`, with the compaction
  * cadence on. Every operation is followed by three
  * `IncrementalAnn.serve` top-k reads.
  */
object StoreLoop {
  val DocsPerSlice = 60
  val VecsPerSlice = 60
  val SeedRows = 150
  val Dim = 32
  val Cells = 8
  /** Dedup compacts after odd batch ids and ANN after even ones, so the
    * loop ends on a whole cycle and both kinds of trigger count equally.
    */
  val CompactEvery = 2
  val WarmTriggers = 2 * CompactEvery
  val ServesPerOp = 3

  private def docText(rnd: Random): String =
    Seq.fill(12 + rnd.nextInt(40))(Data.Vocabulary(rnd.nextInt(Data.Vocabulary.size))).mkString(" ")

  /** Documents `id0 until id0 + n`: one in ten repeats an earlier text and
    * one in ten changes one word of an earlier text.
    */
  def docs(rnd: Random, id0: Long, n: Int, earlier: ArrayBuffer[String]): Seq[(Long, String)] =
    (0 until n).map { j =>
      val x = rnd.nextDouble()
      val text =
        if (earlier.nonEmpty && x < 0.1) earlier(rnd.nextInt(earlier.size))
        else if (earlier.nonEmpty && x < 0.2) {
          val w = earlier(rnd.nextInt(earlier.size)).split(" ")
          w(rnd.nextInt(w.length)) = Data.Vocabulary(rnd.nextInt(Data.Vocabulary.size))
          w.mkString(" ")
        } else docText(rnd)
      earlier += text
      (id0 + j, text)
    }

  private val centres: Seq[Array[Float]] = {
    val r = new Random(7)
    Seq.fill(Cells)(Array.fill(Dim)((r.nextGaussian()).toFloat))
  }

  def vecs(rnd: Random, id0: Long, n: Int): Seq[(Long, Seq[Float])] =
    (0 until n).map { j =>
      val c = centres(rnd.nextInt(Cells))
      val v = c.map(x => x + 0.6f * rnd.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      (id0 + j, v.map(_ / norm).toSeq)
    }

  private def landJson(dir: File, name: String, lines: Seq[String]): Long = {
    val body = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    val tmp = new File(dir.getParentFile, s".$name.tmp")
    Files.write(tmp.toPath, body)
    Files.move(tmp.toPath, new File(dir, s"$name.json").toPath, StandardCopyOption.ATOMIC_MOVE)
    body.length.toLong
  }

  private def dirStats(d: File): (Int, Long) = {
    val files = Option(d.listFiles).getOrElse(Array.empty[File])
    files.foldLeft((0, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = dirStats(f); (n + n2, b + b2) }
      else if (f.getName.endsWith(".parquet")) (n + 1, b + f.length) else (n, b)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val root = new File(ctx.work, "stores"); root.mkdirs()
    val docsIn = new File(root, "docs_in"); docsIn.mkdirs()
    val vecsIn = new File(root, "vecs_in"); vecsIn.mkdirs()
    val corpusDir = new File(root, "dedup_corpus").getPath
    val bandsDir = new File(root, "dedup_bands").getPath
    val annDir = new File(root, "ann").getPath
    val rnd = new Random(ctx.seed)
    val texts = ArrayBuffer.empty[String]
    val allVecs = ArrayBuffer.empty[(Long, Seq[Float])]

    IncrementalDedup.seed(docs(rnd, 0, SeedRows, texts).toDF("doc_id", "text"), corpusDir, bandsDir)
    val seedVecs = vecs(rnd, 0, SeedRows); allVecs ++= seedVecs
    val centroids = seedVecs.take(Cells).zipWithIndex.map { case ((_, v), i) => (i, v) }
      .toDF("centroid_id", "centroid_vec")
    IncrementalAnn.seed(seedVecs.toDF("vec_id", "embedding"), annDir, centroids, "vec_id", "embedding")

    val docStream = spark.readStream.schema(StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))).json(docsIn.getPath)
    val vecStream = spark.readStream.schema(StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))).json(vecsIn.getPath)
    val dedupQ = IncrementalDedup.attach(docStream, corpusDir, bandsDir,
      checkpointLocation = Some(new File(root, "_chk_dedup").getPath), compactEvery = Some(CompactEvery))
    val annQ = IncrementalAnn.attach(vecStream, annDir, centroids, "vec_id", "embedding",
      checkpointLocation = Some(new File(root, "_chk_ann").getPath), compactEvery = Some(CompactEvery),
      compactTargetBytes = 1L << 20)
    t.streamStage.put(dedupQ.id.toString, "store_dedup")
    t.streamStage.put(annQ.id.toString, "store_ann")
    val queries = vecs(new Random(ctx.seed + 1), 1000000L, 4).toDF("vec_id", "embedding")
    var next = SeedRows.toLong

    def trigger(k: Int): Long = {
      val d = docs(rnd, next, DocsPerSlice, texts)
      val v = vecs(rnd, next, VecsPerSlice)
      next += math.max(DocsPerSlice, VecsPerSlice)
      allVecs ++= v
      val bytes = t.span("sources", "land") {
        landJson(docsIn, f"docs-$k%05d", d.map { case (id, s) => s"""{"doc_id":$id,"text":"$s"}""" }) +
          landJson(vecsIn, f"vecs-$k%05d", v.map { case (id, e) =>
            s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}""" })
      }
      t.span("store", "dedup")(dedupQ.processAllAvailable())
      t.span("store", "ann")(annQ.processAllAvailable())
      bytes
    }
    def serve(): Unit = (1 to ServesPerOp).foreach { _ =>
      val (_, ms) = t.op("read:serve") {
        t.span("store", "serve")(IncrementalAnn.serve(spark, annDir, queries, centroids,
          "vec_id", "embedding", k = 5, nprobe = 2).collect())
      }
      ctx.sample("read", ms)
    }
    try {
      // warm-up: two cycles; the first four triggers of a fresh JVM run
      // up to twice as slow as later ones
      (0 until WarmTriggers).foreach { k => trigger(k); serve() }
      ctx.lat.clear()
      ctx.setupEndMs = t.nowMs
      var k = WarmTriggers
      ctx.loop({ _ =>
        ctx.attempted += 1
        val (bytes, ms) = t.op("trigger")(trigger(k))
        ctx.sample("op", ms)
        ctx.workUnits += DocsPerSlice + VecsPerSlice
        ctx.landedBytes += bytes
        serve()
        k += 1
      }, cycle = CompactEvery)
      Seq(dedupQ, annQ).foreach(q => q.exception.foreach(e => ctx.fail(s"store loop ${q.id} failed: $e")))

      // output checks, outside the timed loop
      val corpus = spark.read.parquet(corpusDir)
      val dupIds = corpus.groupBy("doc_id").count().filter(col("count") > 1).count()
      if (dupIds > 0) ctx.fail(s"$dupIds dedup corpus ids appended twice")
      val fresh = new File(root, "ann_fresh").getPath
      IncrementalAnn.seed(allVecs.toSeq.toDF("vec_id", "embedding"), fresh, centroids, "vec_id", "embedding")
      def top(dir: String) = IncrementalAnn.serve(spark, dir, queries, centroids, "vec_id", "embedding",
        k = 5, nprobe = 2)
      val served = top(annDir); val expect = top(fresh)
      if (!(served.exceptAll(expect).isEmpty && expect.exceptAll(served).isEmpty))
        ctx.fail("IncrementalAnn.serve differs from a from-scratch seed of the same vectors")
      val annRows = spark.read.parquet(annDir).count()
      if (annRows != allVecs.size) ctx.fail(s"ann store has $annRows rows, landed ${allVecs.size}")
      if (ctx.failures.nonEmpty) ctx.failed = ctx.attempted

      if (t.enabled) {
        Seq("dedup_corpus" -> corpusDir, "dedup_bands" -> bandsDir, "ann" -> annDir).foreach { case (n, d) =>
          val (files, bytes) = dirStats(new File(d))
          ctx.layer(s"sources.store_files.$n") = (files.toDouble, "count")
          ctx.layer(s"sources.store_bytes.$n") = (bytes.toDouble, "bytes")
        }
        // both loops run at once, so per-store trigger time comes from
        // each query's own progress reports
        Seq("dedup", "ann").foreach { s =>
          val ms = t.progress.asScala.filter(p => p.stage == s"store_$s" && p.at >= ctx.loopStartMs)
            .map(_.durations.getOrElse("triggerExecution", 0L).toDouble).toSeq
          ctx.layer(s"store.$s.trigger_p50_ms") = (Stats.median(ms), "ms")
        }
        ctx.layer("store.ann.serve_ms") = (Stats.median(ctx.lat.getOrElse("read", Nil).toSeq), "ms")
        val ingested = t.events.asScala.filter(_.name == "batch.ingested").toSeq
        def rows(dir: String) = ingested.filter(_.entity == dir)
          .flatMap(_.message.map(_.stripPrefix("rows=").toDouble)).sum
        ctx.layer("store.dedup.ingested_rows") = (rows(corpusDir), "count")
        ctx.layer("store.ann.ingested_rows") = (rows(annDir), "count")
      }
    } finally Seq(dedupQ, annQ).foreach(_.stop())
  }
}
