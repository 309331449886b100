package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one query key or one repetition share
  * `key`; `parent` is the span that caused this one (0 = a root). */
final case class Span(id: Long, parent: Long, key: String, name: String,
                      layer: String, startNs: Long, endNs: Long)

/** In-memory span recorder, written out once at the end of a run. When
  * off, [[span]] only runs its body; a traced run turns it off for the
  * untraced half of its overhead measurement. The current key and span travel to
  * Spark jobs as local properties, so the listener can hang job spans
  * under the span that submitted them. */
final class Tracer(@volatile var on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val layers = ThreadLocal.withInitial[List[String]](() => Nil)
  @volatile var key: String = ""
  var spark: SparkSession = _

  def newId(): Long = ids.getAndIncrement()

  /** The innermost open span on this thread (0 = none). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      layers.set(layer :: layers.get)
      val sc = Option(spark).map(_.sparkContext)
      sc.foreach { c =>
        c.setLocalProperty(Tracer.SpanProp, id.toString); c.setLocalProperty(Tracer.KeyProp, key)
        c.setLocalProperty(Tracer.LayerProp, layer)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        add(Span(id, parent, key, name, layer, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        sc.foreach(_.setLocalProperty(Tracer.SpanProp, stack.get.headOption.map(_.toString).orNull))
        layers.set(layers.get.drop(1))
        sc.foreach(_.setLocalProperty(Tracer.LayerProp, layers.get.headOption.orNull))
      }
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ms: each span's duration minus the part of it
    * that its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"key":"${s.key}","name":"${s.name.replace("\"", "'")}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val KeyProp = "perfbench.key"
  val LayerProp = "perfbench.layer"
}

/** Engine counters from the benchmark's own SparkListener and
  * QueryExecutionListener. Job spans are added to the tracer under the
  * span that was current when the job was submitted. */
final class EngineListener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  // epoch-ms listener timestamps → the tracer's nanoTime clock
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val c: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, (Long, Long, String, String)]
  /** Task durations (ms) per stage, for skew. */
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** Job intervals (ns, tracer clock) per key, for driver-only time. */
  val jobIntervals: mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]] = mutable.Map.empty

  /** Codegen classes generated while measuring, set by the workload. */
  @volatile var codegenClasses = 0.0

  def reset(): Unit = synchronized {
    c.clear(); stageTaskMs.clear(); jobIntervals.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    val key = props.flatMap(p => Option(p.getProperty(Tracer.KeyProp))).getOrElse("")
    // jobs the benchmark runs for its own checks stay out of the engine's time
    val layer = if (props.flatMap(p => Option(p.getProperty(Tracer.LayerProp))).contains("bench")) "bench" else "engine"
    jobStart(e.jobId) = (e.time * 1000000L + clockOffsetNs, parent, key, layer)
    c("jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent, key, layer) =>
      val t1 = e.time * 1000000L + clockOffsetNs
      tracer.add(Span(tracer.newId(), parent, key, s"job-${e.jobId}", layer, t0, t1))
      jobIntervals.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ((t0, t1))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      c("task_run_ms") += m.executorRunTime
      c("task_cpu_ms") += m.executorCpuTime / 1e6
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("input_bytes") += m.inputMetrics.bytesRead
      if (info != null)
        c("sched_delay_ms") += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
    if (info != null) stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration.toDouble
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    c("analysis_ms") += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    c("optimizer_ms") += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    c("planning_ms") += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Union length (ms) of the job intervals of `key` inside [t0, t1]. */
  def jobMs(key: String, t0: Long, t1: Long): Double = synchronized {
    val xs = jobIntervals.getOrElse(key, mutable.ArrayBuffer.empty)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L; var s = Long.MinValue; var e = Long.MinValue
    xs.foreach { case (a, b) => if (a > e) { if (e > s) total += e - s; s = a; e = b } else e = math.max(e, b) }
    if (e > s) total += e - s
    total / 1e6
  }
}

/** Codegen counters from Spark's public CodegenMetrics source. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def classes: Long = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
}

/** Peak live heap: heap in use right after a forced full collection,
  * taken at checkpoints outside the timed regions (which also starts each
  * timed unit from a collected heap). */
object HeapPeak {
  @volatile private var peak = 0L

  def checkpoint(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (used > peak) peak = used }
  }

  def peakMb(): Double = peak / 1048576.0
}
