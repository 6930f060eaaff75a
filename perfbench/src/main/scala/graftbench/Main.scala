package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Everything a workload needs: the session, the tracer, its arguments
  * and the latency samples it records.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val work: String, val expectedDir: String, val record: Boolean) {
  /** Latency samples in ms per operation kind (`op` and `read`). */
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var setupEndMs = 0.0
  var loopStartMs = 0.0
  var loopEndMs = 0.0
  /** Units of work done in the loop (queries, ticks or rows). */
  var workUnits = 0.0
  /** Bytes of input files landed during the loop. */
  var landedBytes = 0L
  var ioLoopStart = (0L, 0L)
  var ioLoopEnd = (0L, 0L)
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]

  def sample(kind: String, ms: Double): Unit =
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  def fail(msg: String): Unit = { failures += msg; System.err.println(s"[perfbench] FAIL $msg") }

  /** Run `op` closed-loop until `seconds` have passed and the count is a
    * multiple of `cycle`; returns the count.
    */
  def loop(op: Int => Unit, cycle: Int = 1): Int = {
    ioLoopStart = Probes.io()
    loopStartMs = tracer.nowMs
    val deadline = loopStartMs + seconds * 1000
    var i = 0
    while (tracer.nowMs < deadline || i % cycle != 0) { op(i); i += 1 }
    loopEndMs = tracer.nowMs
    ioLoopEnd = Probes.io()
    i
  }
  def loopSeconds: Double = (loopEndMs - loopStartMs) / 1000
}

/** Benchmark process: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <file> --expected <dir> [--record]
  * }}}
  * Writes one JSON object to `--out`; `run.py` turns it into the
  * benchmark's result line. `--record` rewrites the expected digests of
  * the pull queries instead of checking them.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val record = args.contains("--record")
    val workload = a("workload")
    val spark = Session.create()
    val trace = a.getOrElse("trace", "0") == "1"
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, a("seed").toLong, a("seconds").toDouble,
      a("work"), a("expected"), record && !trace)
    val (jit0, cg0, cgMs0) = (Probes.jitMs, Probes.codegenUnits, Probes.codegenMs)
    try {
      workload match {
        case "pull_queries"    => Workloads.pullQueries(ctx)
        case "live_bars"       => LiveBars.run(ctx)
        case "store_loop"      => StoreLoop.run(ctx)
        case other             => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.fail(s"workload aborted: $e")
    }
    tracer.close()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val ops = ctx.lat.getOrElse("op", mutable.ArrayBuffer.empty[Double]).toSeq
    val reads = ctx.lat.getOrElse("read", ops).toSeq
    ctx.e2e("setup_s") = (if (ctx.setupEndMs > 0) (ctx.setupEndMs - jvmStart) / 1000 else 0.0, "s")
    ctx.e2e("peak_rss_mb") = (Probes.peakRssMb, "MiB")
    ctx.e2e("op_p50_ms") = (Stats.pct(ops, 50), "ms")
    ctx.e2e("op_geomean_ms") = (Stats.geomean(ops), "ms")
    ctx.e2e("read_p50_ms") = (Stats.pct(reads, 50), "ms")
    ctx.e2e("work_per_s") = (if (ctx.loopSeconds > 0) ctx.workUnits / ctx.loopSeconds else 0.0, "1/s")
    val (tailPct, tail) = Stats.tail(ops)
    ctx.notes("op_tail") = f"p$tailPct%.1f=$tail%.3f ms over ${ops.size} samples"
    ctx.notes("op_samples") = ops.size.toString
    ctx.notes("op_ms") = ops.map(x => f"$x%.1f").mkString(" ")
    ctx.notes("read_ms") = reads.map(x => f"$x%.1f").mkString(" ")
    ctx.notes("read_samples") = reads.size.toString
    if (trace) Layers.report(ctx, jit0, cg0, cgMs0)

    val correct = ctx.failures.isEmpty
    def obj(m: Iterable[(String, (Double, String))]): String = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val json = new StringBuilder
    json ++= s"""{"workload": "$workload", "seed": ${ctx.seed}, "trace": ${if (trace) 1 else 0}, """
    json ++= s""""correct": $correct, "attempted": ${math.max(ctx.attempted, 1L)}, "failed": ${ctx.failed}, """
    json ++= s""""end_to_end": ${obj(ctx.e2e)}, "per_layer": ${obj(ctx.layer)}, """
    json ++= s""""notes": ${ctx.notes.map { case (k, v) => s""""$k": "${Stats.esc(v)}"""" }.mkString("{", ", ", "}")}, """
    json ++= s""""failures": ${ctx.failures.map(f => "\"" + Stats.esc(f) + "\"").mkString("[", ", ", "]")}}"""
    Files.write(Paths.get(a("out")), json.toString.getBytes(UTF_8))
    if (trace) {
      val spans = tracer.spans.map(s =>
        f"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "layer": "${s.layer}", "name": "${Stats.esc(s.name)}", "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f}""")
      Files.write(Paths.get(a("out") + ".spans.jsonl"), spans.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
    System.exit(0)
  }
}

object Session {
  def create(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16777216")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  /** The highest percentile with at least ten samples beyond it; with
    * fewer than eleven samples, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 11) (100.0, if (xs.isEmpty) 0.0 else xs.max)
    else {
      val p = 100.0 * (xs.size - 10) / xs.size
      (p, xs.sorted.apply(xs.size - 11))
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
}
