package graftbench

import graft.streaming.{RuntimeEvent, RuntimeEventBus, RuntimeEventSink}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A timed interval. `layer` is the module whose work it covers (`op` for
  * the benchmark's own operation span); all spans of one operation carry
  * that operation's id. Times are epoch milliseconds with sub-ms digits.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

final case class TaskRec(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long)

final case class Progress(stage: String, at: Double, inputRows: Long,
    durations: Map[String, Long], stateCommitMs: Long, stateRows: Long, stateBytes: Long,
    droppedLate: Long)

/** Spans around the benchmark's calls into each layer, plus the counts the
  * four listeners report. With `enabled = false` only operation spans are
  * kept and no listener is registered, so untraced runs measure the program
  * as a user runs it. Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var open: List[(Int, Int)] = Nil // (span id, op id)
  private var nextId = 1
  private var nextOp = 1

  /** Open an operation span; inner [[span]] calls become its descendants. */
  def op[T](name: String)(f: => T): (T, Double) = {
    val opId = nextOp; nextOp += 1
    val r = record(opId, "op", name)(f)
    (r, spans.last.ms)
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled || open.isEmpty) f else record(open.head._2, layer, name)(f)

  private def record[T](opId: Int, layer: String, name: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    open = (id, opId) :: open
    val s = nowMs
    try f
    finally {
      open = open.tail
      spans += Span(id, parent, opId, layer, name, s, nowMs)
    }
  }

  // ---- listener state (filled only when enabled) ----
  val jobs = new ConcurrentLinkedQueue[(Int, Double, Double)]() // (job, start, end)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  val stages = new ConcurrentLinkedQueue[(Int, Long)]() // (stage, completion time)
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val phases = new ConcurrentLinkedQueue[(String, Double, Double)]() // catalyst phase spans
  val progress = new ConcurrentLinkedQueue[Progress]()
  val events = new ConcurrentLinkedQueue[RuntimeEvent]()
  /** Streaming query id -> stage name; the workload fills it in. */
  val streamStage = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobStart.put(j.jobId, j.time.toDouble)
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobs.add((j.jobId, Option(jobStart.remove(j.jobId)).map(_.doubleValue).getOrElse(j.time.toDouble),
        j.time.toDouble))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.add((s.stageInfo.stageId, s.stageInfo.completionTime.getOrElse(0L)))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) tasks.add(TaskRec(t.taskInfo.launchTime, t.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.add((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val stage = Option(streamStage.get(p.id.toString)).getOrElse(p.id.toString)
      val ops = p.stateOperators.toSeq
      progress.add(Progress(stage, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }
  private val busSink = new RuntimeEventSink {
    override def publish(e: RuntimeEvent): Unit = events.add(e)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    RuntimeEventBus.addSink(busSink)
  }

  /** Wait for the listener bus, then detach every listener. */
  def close(): Unit = if (enabled) {
    Thread.sleep(500)
    RuntimeEventBus.removeSink(busSink)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Turn listener records into spans under the operation that contains
    * them: Spark jobs and Catalyst phases nest under the innermost
    * benchmark span covering their start.
    */
  def attachListenerSpans(): Unit = if (enabled) {
    val own = spans.toVector
    def innermost(at: Double): Option[Span] =
      own.filter(s => s.start <= at && at <= s.end).sortBy(_.ms).headOption
    def add(layer: String, name: String, s: Double, e: Double): Unit =
      innermost(s).foreach { p =>
        spans += Span(nextId, p.id, p.op, layer, name, math.max(s, p.start), math.min(e, p.end))
        nextId += 1
      }
    jobs.asScala.foreach { case (j, s, e) => add("operators", s"job.$j", s, e) }
    phases.asScala.foreach { case (ph, s, e) => add("plans", s"phase.$ph", s, e) }
  }

  /** Self intervals: a span's interval minus the parts its children cover. */
  def selfIntervals(s: Span, children: Map[Int, Seq[Span]]): Seq[(Double, Double)] = {
    var from = s.start
    val out = ArrayBuffer.empty[(Double, Double)]
    Intervals.union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end))).foreach { case (a, b) =>
      if (a > from) out += ((from, math.min(a, s.end)))
      from = math.max(from, b)
    }
    if (s.end > from) out += ((from, s.end))
    out.toSeq
  }
}

/** Process-wide counters read before and after a measured interval. */
object Probes {
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenUnits: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  /** (rchar, wchar) of this process: bytes passed to read and write calls. */
  def io(): (Long, Long) = {
    val kv = lines("/proc/self/io")
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }

  /** Peak resident set size (VmHWM) in MiB. */
  def peakRssMb: Double =
    lines("/proc/self/status")
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def lines(path: String): Seq[String] =
    scala.util.Using.resource(scala.io.Source.fromFile(path))(_.getLines().toVector)
}

object Intervals {
  /** Sorted, disjoint union of intervals. */
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(iv: Seq[(Double, Double)]): Double = union(iv).map(x => x._2 - x._1).sum
}
