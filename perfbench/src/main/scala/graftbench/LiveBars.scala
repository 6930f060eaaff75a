package graftbench

import graft.core.Period
import graft.dsl.Ksql
import graft.sources.TestEntities
import graft.streaming.{BarCascade, GapFill, MarketSchedule, TimeBucket}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.util.Random

/** The flagship pipeline: tick slices land as files, pass the market
  * schedule and run through the hub → live → fill bar cascade on RocksDB
  * state. One operation is one slice, from landing to all five sinks
  * committed; each is followed by eight `TimeBucket.get` reads of the 1m bars.
  */
object LiveBars {
  final case class Tick(broker: String, symbol: String, tsMs: Long, bid: Double, seq: Long,
      late: Boolean)

  val Symbols = 12
  val TicksPerSlice = 300
  val SliceSeconds = 60
  val GraceSeconds = 5
  val ReadsPerSlice = 8
  /** 2024-01-02 08:59:30 UTC: the first slice is before the session. */
  val T0Ms: Long = 1704185970000L

  /** Sessions per symbol: 09:00–23:00, and every third symbol pauses
    * 09:10–09:15, so some ticks fall outside the session.
    */
  def schedule: Seq[(String, Long, Long)] = (0 until Symbols).flatMap { i =>
    val day = 1704153600000L // 2024-01-02 00:00 UTC
    val h = 3600000L; val m = 60000L
    if (i % 3 == 0) Seq((s"S$i", day + 9 * h, day + 9 * h + 10 * m), (s"S$i", day + 9 * h + 15 * m, day + 23 * h))
    else Seq((s"S$i", day + 9 * h, day + 23 * h))
  }

  /** Ticks of slice `k`: Zipf-skewed symbols, some out of order within the
    * grace period, and from the second slice on about 1% arriving after it.
    */
  def slice(rnd: Random, k: Int, seq0: Long): Seq[Tick] = {
    val zipf = (1 to Symbols).map(r => 1.0 / math.pow(r, 1.2))
    val cum = zipf.scanLeft(0.0)(_ + _).tail.map(_ / zipf.sum)
    val start = T0Ms + k.toLong * SliceSeconds * 1000
    (0 until TicksPerSlice).map { j =>
      val x = rnd.nextDouble()
      val kind = rnd.nextDouble()
      val (ts, late) =
        if (k > 0 && kind < 0.01) (start - 30000 - rnd.nextInt(20000), true)
        else if (k > 0 && kind < 0.04) (start - rnd.nextInt((GraceSeconds - 2) * 1000), false)
        else (start + (j.toLong * SliceSeconds * 1000 / TicksPerSlice) + rnd.nextInt(1500) - 750 max start, false)
      // the rarest symbol trades only in even minutes: empty symbol-minutes
      val ranked = cum.indexWhere(_ >= x) max 0
      val sym = if (ranked == Symbols - 1 && (ts / 60000) % 2 == 1) 0 else ranked
      Tick(s"B${sym % 2}", s"S$sym", ts, math.round((100 + sym + rnd.nextGaussian()) * 100) / 100.0,
        seq0 + j, late)
    }
  }

  val tickSchema: StructType = StructType(Seq(StructField("broker", StringType),
    StructField("symbol", StringType), StructField("ts", TimestampType),
    StructField("bid", DoubleType), StructField("seq", LongType)))

  /** Land a slice atomically: write beside the watched directory, then rename. */
  def land(ticks: Seq[Tick], dir: File, name: String): Long = {
    val tmp = new File(dir.getParentFile, s".$name.tmp")
    val body = ticks.map { t =>
      s"""{"broker":"${t.broker}","symbol":"${t.symbol}","ts":"${java.time.Instant.ofEpochMilli(t.tsMs)}","bid":${t.bid},"seq":${t.seq}}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(tmp.toPath, body)
    Files.move(tmp.toPath, new File(dir, s"$name.json").toPath, StandardCopyOption.ATOMIC_MOVE)
    body.length.toLong
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val root = new File(ctx.work, "bars"); root.mkdirs()
    val ticksDir = new File(root, "ticks"); ticksDir.mkdirs()
    val sched = schedule.map { case (s, o, c) => (s, new java.sql.Timestamp(o), new java.sql.Timestamp(c)) }
      .toDF("symbol", "open_ts", "close_ts")
    val ticks = spark.readStream.schema(tickSchema).json(ticksDir.getPath)
    val inSession = MarketSchedule.sessionFilter(ticks, sched, Seq("symbol" -> "symbol"), "ts")
    val model = Ksql.from(TestEntities.events)
      .tumbling(Seq(Period.Minutes(1), Period.Minutes(5)), grace = GraceSeconds.seconds, continuation = true)
      .groupBy("symbol" -> col("symbol"))
      .select(count(lit(1)).as("cnt"))
      .build()
    val plan = BarCascade.startFromModel(spark, inSession, "bar", Seq("broker", "symbol"),
      "ts", "bid", "seq", model, new File(root, "out").getPath, GapFill.CarryForward)
    plan.queries.zip(Layers.Stages).foreach { case (q, st) => t.streamStage.put(q.id.toString, st) }
    val rnd = new Random(ctx.seed)
    val landed = ArrayBuffer.empty[Tick]
    var seq = 0L
    def step(ks: Seq[Int]): Long = {
      val s = ks.flatMap { k => val x = slice(rnd, k, seq); seq += x.size; x }
      landed ++= s
      val bytes = t.span("sources", "land")(land(s, ticksDir, f"slice-${ks.head}%05d"))
      // a second pass waits out the no-data batches that seal windows, so
      // the slice ends with every stage idle
      (1 to 2).foreach { _ =>
        plan.queries.zip(Layers.Stages).foreach { case (q, st) =>
          t.span("streaming", st)(q.processAllAvailable())
        }
      }
      bytes
    }
    def read(): Unit = (1 to ReadsPerSlice).foreach { _ =>
      val (_, ms) = t.op("read:timebucket") {
        t.span("sources", "timebucket_1m")(TimeBucket.get(spark, plan, Period.Minutes(1)).collect())
      }
      ctx.sample("read", ms)
    }
    try {
      // warm-up: one landing of two slices' ticks seals a minute, so every
      // stage, fills included, runs and compiles its plan
      step(Seq(0, 1))
      read()
      ctx.lat.clear()
      ctx.setupEndMs = t.nowMs
      var k = 2
      ctx.loop { _ =>
        ctx.attempted += 1
        val (bytes, ms) = t.op("slice")(step(Seq(k)))
        k += 1
        ctx.sample("op", ms)
        ctx.workUnits += TicksPerSlice
        ctx.landedBytes += bytes
        read()
      }
      plan.queries.foreach(q => q.exception.foreach(e => ctx.fail(s"stream ${q.id} failed: $e")))
      check(ctx, plan, landed.toSeq, sched)
      if (t.enabled) {
        ctx.layer("sources.sink_files.live_1m") =
          (Option(new File(plan.livePaths("1m")).listFiles).getOrElse(Array.empty)
            .count(_.getName.endsWith(".parquet")).toDouble, "count")
        val all = landed.toSeq.toDF()
        val kept = MarketSchedule.sessionFilter(
          all.withColumn("ts", timestamp_millis(col("tsMs"))), sched, Seq("symbol" -> "symbol"), "ts").count()
        ctx.layer("streaming.schedule_drop_frac") = (1.0 - kept.toDouble / landed.size, "ratio")
      }
    } finally plan.queries.foreach(_.stop())
  }

  /** Compare the live and fill sinks with a batch recomputation over the
    * same ticks. A sink holds only sealed windows, so the check covers
    * every sink row, and requires every window that closed well before
    * the last landed tick.
    */
  private def check(ctx: Ctx, plan: BarCascade.CascadePlan, landed: Seq[Tick], sched: DataFrame): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val ticks = landed.filterNot(_.late).toDF()
      .withColumn("ts", timestamp_millis(col("tsMs")))
    val s = sched.alias("s")
    val inSession = ticks.join(broadcast(s),
      ticks("symbol") === s("symbol") && s("open_ts") <= ticks("ts") && ticks("ts") < s("close_ts"), "left_semi")
    val secBars = inSession.groupBy(col("broker"), col("symbol"),
      date_trunc("second", col("ts")).as("sec"))
      .agg(min_by(col("bid"), col("seq")).as("o"), max("bid").as("h"), min("bid").as("l"),
        max_by(col("bid"), col("seq")).as("c"), count(lit(1)).as("n"))
    val maxTs = landed.filterNot(_.late).map(_.tsMs).max
    def expected(minutes: Int): Map[(String, String, Long), (Double, Double, Double, Double, Long)] =
      secBars.groupBy(col("broker"), col("symbol"),
        window(col("sec"), s"$minutes minutes").getField("start").as("b"))
        .agg(min_by(col("o"), col("sec")), max("h"), min("l"), max_by(col("c"), col("sec")), sum("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime) ->
          (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7))).toMap
    Seq(1 -> "1m", 5 -> "5m").foreach { case (minutes, label) =>
      val exp = expected(minutes)
      val live = spark.read.parquet(plan.livePaths(label)).collect().map { r =>
        (r.getAs[String]("broker"), r.getAs[String]("symbol"),
          r.getAs[java.sql.Timestamp]("bucket_start").getTime) ->
          (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
            r.getAs[Double]("close"), r.getAs[Long]("cnt"))
      }
      val liveMap = live.toMap
      if (liveMap.size != live.length) ctx.fail(s"live $label has duplicate bars")
      live.foreach { case (k, v) =>
        if (!exp.get(k).contains(v)) ctx.fail(s"live $label bar $k = $v, expected ${exp.get(k)}")
      }
      val sealedBefore = maxTs - (GraceSeconds + 2L * minutes * 60) * 1000
      exp.keys.filter(k => k._3 + minutes * 60000L <= sealedBefore && !liveMap.contains(k))
        .foreach(k => ctx.fail(s"live $label bar $k missing"))

      // fill: real bars equal the live bars, synthetic bars sit in gaps and
      // carry the previous close
      val fill = spark.read.parquet(plan.fillPaths(label)).collect()
      val byKey = liveMap.toSeq.groupBy { case ((b, s, _), _) => s"$b\u0000$s" }
        .map { case (key, xs) => key -> xs.map { case ((_, _, at), v) => at -> v }.sortBy(_._1) }
      fill.foreach { r =>
        val key = r.getAs[String]("key"); val at = r.getAs[java.sql.Timestamp]("bucket").getTime
        val ohlc = (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"))
        val bars = byKey.getOrElse(key, Nil)
        if (!r.getAs[Boolean]("filled")) {
          if (!bars.exists { case (b, v) => b == at && (v._1, v._2, v._3, v._4) == ohlc })
            ctx.fail(s"fill $label real bar $key@$at does not match live")
        } else {
          val prev = bars.filter(_._1 < at).lastOption
          val ok = !bars.exists(_._1 == at) && prev.exists { case (_, v) => ohlc == (v._4, v._4, v._4, v._4) }
          if (!ok) ctx.fail(s"fill $label synthetic bar $key@$at is not a carry-forward gap")
        }
      }
      if (live.nonEmpty && fill.count(r => !r.getAs[Boolean]("filled")) == 0) ctx.fail(s"fill $label is empty")
    }
    if (ctx.failures.nonEmpty) ctx.failed = ctx.attempted
  }
}
