package graftbench

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.Random

/** The pull-query workload: a query is built through its pack's public
  * definition and executed with a `noop` write, one at a time.
  */
object Workloads {
  type Q = (SparkSession, String) => DataFrame

  /** The paper-surface queries: relational core, scalar functions and
    * windows (47 queries).
    */
  def pullSet: Seq[(String, Q)] =
    (RelationalQueries.defs ++ FunctionQueries.defs ++ WindowQueries.defs).toSeq.sortBy(_._1)

  def pullQueries(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val set = pullSet
    val dir = s"${ctx.work}/data"
    Data.write(spark, dir, scale = 0.01)

    // untimed warm pass, which is also the output check
    val expectedFile = Paths.get(ctx.expectedDir, "pull_queries.digests")
    val expected = if (Files.exists(expectedFile)) Digests.read(expectedFile) else Map.empty[String, String]
    val bad = scala.collection.mutable.Set.empty[String]
    val got = set.map { case (q, f) =>
      val d = try Digest.of(f(spark, dir)) catch { case e: Throwable => s"error: $e" }
      if (!ctx.record && !expected.get(q).contains(d)) {
        bad += q
        ctx.fail(s"$q digest $d, expected ${expected.getOrElse(q, "none")}")
      }
      q -> d
    }
    if (ctx.record) Digests.write(expectedFile, got)
    ctx.setupEndMs = ctx.tracer.nowMs

    val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val rnd = new Random(ctx.seed)
    var order = Vector.empty[(String, Q)]
    ctx.loop { i =>
      if (i % set.size == 0) order = rnd.shuffle(set.toVector)
      val (q, f) = order(i % set.size)
      ctx.attempted += 1
      try {
        val (_, ms) = ctx.tracer.op(q) {
          val df = ctx.tracer.span("plans", "build")(f(spark, dir))
          ctx.tracer.span("operators", "execute")(df.write.format("noop").mode("overwrite").save())
        }
        ctx.sample("op", ms)
        perQuery(q) = perQuery.getOrElse(q, Vector.empty) :+ ms
        if (bad(q)) ctx.failed += 1
      } catch {
        case e: Throwable => ctx.failed += 1; ctx.fail(s"$q threw $e")
      }
      ctx.workUnits += 1
    }
    // each query counts once, whatever share of the last pass the deadline cut
    ctx.notes("op_runs") = perQuery.values.map(_.size).sum.toString
    ctx.lat("op") = perQuery.values.map(xs => Stats.median(xs)).to(scala.collection.mutable.ArrayBuffer)
  }
}

/** Expected digests, one `name digest` line per query. */
object Digests {
  def read(p: java.nio.file.Path): Map[String, String] =
    new String(Files.readAllBytes(p), UTF_8).linesIterator.map(_.trim).filter(_.nonEmpty)
      .map(_.split(" ", 2)).collect { case Array(k, v) => k -> v }.toMap

  def write(p: java.nio.file.Path, m: Seq[(String, String)]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, m.sortBy(_._1).map { case (k, v) => s"$k $v" }.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
