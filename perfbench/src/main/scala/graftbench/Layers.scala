package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Every metric is reported on every
  * workload; a layer the workload does not reach reports 0. Per-operation
  * figures are medians over the workload's main operations (reads
  * excluded).
  */
object Layers {
  val Stages: Seq[String] = Seq("hub", "live_1m", "live_5m", "fill_1m", "fill_5m")
  val StageMetrics: Seq[(String, String)] = Seq(
    "trigger_p50_ms" -> "ms", "triggers" -> "count", "data_trigger_ratio" -> "ratio",
    "add_batch_ms" -> "ms", "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms",
    "latest_offset_ms" -> "ms", "planning_ms" -> "ms", "state_commit_ms" -> "ms",
    "state_rows" -> "count", "state_bytes" -> "bytes", "rows_dropped_late" -> "count")
  val Stores: Seq[String] = Seq("dedup_corpus", "dedup_bands", "ann")
  val SelfLayers: Seq[String] = Seq("plans", "operators", "streaming", "sources", "store")

  /** Every per-layer metric name with its unit, in report order. */
  val all: Seq[(String, String)] =
    Seq("plans.build_ms" -> "ms", "plans.optimize_ms" -> "ms", "plans.physical_ms" -> "ms") ++
      Seq("operators.jobs" -> "count", "operators.stages" -> "count", "operators.tasks" -> "count",
        "operators.task_run_ms" -> "ms", "operators.task_cpu_ms" -> "ms", "operators.gc_ms" -> "ms",
        "operators.jit_ms" -> "ms", "operators.codegen_units" -> "count",
        "operators.codegen_ms" -> "ms", "operators.driver_wait_ms" -> "ms",
        "operators.core_busy_share" -> "ratio", "operators.shuffle_read_bytes" -> "bytes",
        "operators.shuffle_write_bytes" -> "bytes", "operators.spill_bytes" -> "bytes",
        "operators.input_bytes" -> "bytes") ++
      Stages.flatMap(s => StageMetrics.map { case (m, u) => s"streaming.$s.$m" -> u }) ++
      Seq("streaming.schedule_drop_frac" -> "ratio", "sources.sink_files.live_1m" -> "count") ++
      Stores.map(s => s"sources.store_files.$s" -> "count") ++
      Stores.map(s => s"sources.store_bytes.$s" -> "bytes") ++
      Seq("sources.read_bytes" -> "bytes", "sources.write_bytes" -> "bytes",
        "sources.write_amp" -> "ratio", "sources.compactions" -> "count") ++
      Seq("store.dedup.trigger_p50_ms" -> "ms", "store.ann.trigger_p50_ms" -> "ms",
        "store.dedup.ingested_rows" -> "count", "store.ann.ingested_rows" -> "count",
        "store.ann.serve_ms" -> "ms", "store.events" -> "count") ++
      SelfLayers.map(l => s"$l.self_ms" -> "ms")

  def report(ctx: Ctx, jit0: Long, cg0: Long, cgMs0: Double): Unit = {
    val t = ctx.tracer
    t.attachListenerSpans()
    val spans = t.spans.toVector
    val children = spans.groupBy(_.parent)
    val byOp = spans.groupBy(_.op)
    val ops = spans.filter(s => s.layer == "op" && !s.name.startsWith("read") &&
      s.start >= ctx.loopStartMs)
    val tasks = t.tasks.asScala.toVector
    val stageDone = t.stages.asScala.toVector
    def med(f: Span => Double): Double = Stats.median(ops.map(f))
    def sumSpans(op: Span, p: Span => Boolean): Double = byOp(op.op).filter(p).map(_.ms).sum
    def opTasks(op: Span) = tasks.filter(x => x.launch >= op.start && x.launch <= op.end)
    def put(k: String, v: Double): Unit = ctx.layer(k) = (v, all.toMap.getOrElse(k, "count"))

    put("plans.build_ms", med(o => sumSpans(o, s => s.layer == "plans" && s.name == "build")))
    put("plans.optimize_ms", med(o => sumSpans(o, _.name == "phase.optimization")))
    put("plans.physical_ms", med(o => sumSpans(o, _.name == "phase.planning")))
    put("operators.jobs", med(o => byOp(o.op).count(_.name.startsWith("job.")).toDouble))
    put("operators.stages", med(o => stageDone.count { case (_, at) => at >= o.start && at <= o.end }.toDouble))
    put("operators.tasks", med(o => opTasks(o).size.toDouble))
    put("operators.task_run_ms", med(o => opTasks(o).map(_.runMs).sum.toDouble))
    put("operators.task_cpu_ms", med(o => opTasks(o).map(_.cpuNs).sum / 1e6))
    put("operators.gc_ms", med(o => opTasks(o).map(_.gcMs).sum.toDouble))
    put("operators.jit_ms", (Probes.jitMs - jit0).toDouble)
    put("operators.codegen_units", (Probes.codegenUnits - cg0).toDouble)
    put("operators.codegen_ms", Probes.codegenMs - cgMs0)
    put("operators.driver_wait_ms", med(o => o.ms - Intervals.length(
      opTasks(o).map(x => (math.max(x.launch.toDouble, o.start), math.min(x.finish.toDouble, o.end))))))
    put("operators.core_busy_share", med(o => opTasks(o).map(_.runMs).sum / (o.ms * 4)))
    put("operators.shuffle_read_bytes", med(o => opTasks(o).map(_.shuffleRead).sum.toDouble))
    put("operators.shuffle_write_bytes", med(o => opTasks(o).map(_.shuffleWrite).sum.toDouble))
    put("operators.spill_bytes", med(o => opTasks(o).map(_.spill).sum.toDouble))
    put("operators.input_bytes", med(o => opTasks(o).map(_.input).sum.toDouble))

    val prog = t.progress.asScala.toVector.filter(p => p.at >= ctx.loopStartMs && p.at <= ctx.loopEndMs)
    val nOps = math.max(ops.size, 1)
    Stages.foreach { st =>
      val ps = prog.filter(_.stage == st)
      def d(k: String) = Stats.median(ps.map(_.durations.getOrElse(k, 0L).toDouble))
      val last = ps.sortBy(_.at).lastOption
      put(s"streaming.$st.trigger_p50_ms", d("triggerExecution"))
      put(s"streaming.$st.triggers", ps.size.toDouble / nOps)
      put(s"streaming.$st.data_trigger_ratio",
        if (ps.isEmpty) 0.0 else ps.count(_.inputRows > 0).toDouble / ps.size)
      put(s"streaming.$st.add_batch_ms", d("addBatch"))
      put(s"streaming.$st.wal_commit_ms", d("walCommit"))
      put(s"streaming.$st.commit_offsets_ms", d("commitOffsets"))
      put(s"streaming.$st.latest_offset_ms", d("latestOffset"))
      put(s"streaming.$st.planning_ms", d("queryPlanning"))
      put(s"streaming.$st.state_commit_ms", Stats.median(ps.map(_.stateCommitMs.toDouble)))
      put(s"streaming.$st.state_rows", last.map(_.stateRows.toDouble).getOrElse(0.0))
      put(s"streaming.$st.state_bytes", last.map(_.stateBytes.toDouble).getOrElse(0.0))
      put(s"streaming.$st.rows_dropped_late", ps.map(_.droppedLate).sum.toDouble)
    }

    val (r1, w1) = ctx.ioLoopEnd
    val (r0, w0) = ctx.ioLoopStart
    put("sources.read_bytes", (r1 - r0).toDouble / nOps)
    put("sources.write_bytes", (w1 - w0).toDouble / nOps)
    put("sources.write_amp", if (ctx.landedBytes > 0) (w1 - w0).toDouble / ctx.landedBytes else 0.0)
    val events = t.events.asScala.toVector
    put("sources.compactions", events.count(_.name == "batch.compacted").toDouble)
    put("store.events", events.size.toDouble)

    // a layer's self time counts each instant once, also where spans of
    // two concurrent queries overlap
    SelfLayers.foreach { l =>
      put(s"$l.self_ms", med(o => Intervals.length(
        byOp(o.op).filter(_.layer == l).flatMap(s => t.selfIntervals(s, children)))))
    }
    all.foreach { case (k, u) => if (!ctx.layer.contains(k)) ctx.layer(k) = (0.0, u) }
    // report order follows `all`
    val ordered = all.map { case (k, _) => k -> ctx.layer(k) }
    ctx.layer.clear()
    ordered.foreach { case (k, v) => ctx.layer(k) = v }
  }
}
