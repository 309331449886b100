package perfbench

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-layer metrics shared by the workloads' traced runs. */
object Layers {
  /** `engine.*` from the listener counters, each divided by `per` (the
    * traced repetitions, micro-batches or passes it covers). */
  def engine(ctx: Ctx, per: Double): Unit = {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val c = ctx.engine.c
    val m = ctx.out.metrics
    val n = math.max(per, 1.0)
    Seq("analysis_ms", "optimizer_ms", "planning_ms", "jobs", "stages", "tasks",
      "sched_delay_ms", "task_run_ms", "task_cpu_ms", "gc_ms", "shuffle_write_bytes",
      "shuffle_read_bytes", "spill_bytes", "input_bytes").foreach(k => m(s"engine.$k") = c(k) / n)
    m("engine.cpu_per_run") = if (c("task_run_ms") > 0) c("task_cpu_ms") / c("task_run_ms") else 0.0
    m("engine.codegen_classes") = ctx.engine.codegenClasses
  }

  /** `streaming.*` from the progress reports of micro-batches that read
    * input. */
  def streaming(ctx: Ctx, progress: Seq[StreamingQueryProgress]): Unit = {
    val m = ctx.out.metrics
    val ps = progress.filter(_.numInputRows > 0)
    def d(k: String) = ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue()))
    m("streaming.batches") = ps.size
    m("streaming.trigger_ms_p50") = Stats.median(d("triggerExecution"))
    m("streaming.add_batch_ms_p50") = Stats.median(d("addBatch"))
    m("streaming.query_planning_ms_p50") = Stats.median(d("queryPlanning"))
    m("streaming.wal_commit_ms_p50") = Stats.median(d("walCommit"))
    m("streaming.commit_ms_p50") = Stats.median(d("commitOffsets"))
    val st = ps.flatMap(_.stateOperators.headOption)
    // state size: each query's last report, summed over queries
    val lastState = ps.groupBy(_.id).values.flatMap(_.maxBy(_.batchId).stateOperators.headOption)
    m("streaming.state_rows") = lastState.map(_.numRowsTotal.toDouble).sum
    m("streaming.state_bytes") = lastState.map(_.memoryUsedBytes.toDouble).sum
    m("streaming.state_commit_ms_p50") = Stats.median(st.map(_.commitTimeMs.toDouble))
  }

  /** Collects the progress reports of every streaming query while attached. */
  final class ProgressLog extends StreamingQueryListener {
    val all = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def toSeq: Seq[StreamingQueryProgress] = { import scala.jdk.CollectionConverters._; all.asScala.toSeq }
  }

  /** `trace.overhead_ms` / `trace.overhead_pct`: each unit of work runs
    * once untraced and once traced (spans on, the engine listener
    * attached), in alternating order, in this JVM. The overhead is the
    * mean traced minus the mean untraced time per unit. Call it after the
    * traced measurement: its spans are not in the self times. */
  def traceOverhead(ctx: Ctx, units: Seq[() => Unit]): Unit = {
    var offMs, onMs = 0.0
    def timed(traced: Boolean, unit: () => Unit): Double = {
      ctx.tracer.on = traced
      if (traced) ctx.engine.attach(ctx.spark)
      val t0 = System.nanoTime()
      try { unit(); (System.nanoTime() - t0) / 1e6 }
      finally if (traced) ctx.engine.detach(ctx.spark)
    }
    ctx.tracer.key = "overhead"
    units.zipWithIndex.foreach { case (u, i) =>
      (if (i % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { traced =>
        val ms = timed(traced, u)
        if (traced) onMs += ms else offMs += ms
      }
    }
    ctx.tracer.on = true
    val m = ctx.out.metrics
    m("trace.overhead_ms") = (onMs - offMs) / units.size
    m("trace.overhead_pct") = 100.0 * (onMs / offMs - 1)
    ctx.out.detail ++= Seq("overhead.units" -> units.size, "overhead.untraced_ms" -> offMs, "overhead.traced_ms" -> onMs)
  }

  /** `<layer>.self_ms`: total self time of each layer's spans. */
  def selfTimes(ctx: Ctx): Unit =
    ctx.tracer.selfMsByLayer.foreach { case (layer, ms) => ctx.out.metrics(s"$layer.self_ms") = ms }
}
