package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one run measured: end-to-end values (tracing off) or per-layer
  * values (tracing on), and operations attempted and failed. `detail` is
  * printed for people, not parsed. */
final class Outcome {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val detail: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def fail(msg: String, n: Long = 1): Unit = { failed += n; problems += msg }
}

/** Everything a workload needs: the session, its inputs and the run's
  * settings. `root` is the checkout, `work` the run's scratch directory
  * (under the build directory). */
final class Ctx(val spark: SparkSession, val seed: Long,
                val seconds: Double, val trace: Boolean, val genPort: Int,
                val root: Path, val work: Path, val jvmStartMs: Long) {
  val tracer = new Tracer(trace)
  tracer.spark = spark
  val engine = new EngineListener(tracer)
  val out = new Outcome
  def genUrl(path: String): String = s"http://127.0.0.1:$genPort$path"
  def gen(path: String): JsonNode = Json.get(genUrl(path))
  def genStats: (Double, Double, Double) = {
    val j = gen("/ctl/stats")
    (j.get("requests").asDouble(), j.get("bytes").asDouble(), j.get("busy_ms").asDouble())
  }
  /** Seconds from JVM start until now: the set-up time when called at the
    * start of measurement. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
}

object Json {
  val mapper = new ObjectMapper()
  def get(url: String): JsonNode = {
    val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = conn.getResponseCode
      val body = new String((if (code < 400) conn.getInputStream else conn.getErrorStream).readAllBytes(),
        StandardCharsets.UTF_8)
      require(code == 200, s"$url answered $code: $body")
      mapper.readTree(body)
    } finally conn.disconnect()
  }
  def read(p: Path): JsonNode = mapper.readTree(Files.readString(p))
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = mapper.writeValueAsString(s)
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in [0, 1]). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** Mean of the slowest quarter of `xs` (at least one value). */
  def topQuarterMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val top = xs.sorted.takeRight(math.max(1, xs.size / 4)); top.sum / top.size }
}

/** Benchmark main: one workload per JVM, against the program's public
  * entry points. Prints `PERFBENCH_RESULT <json>`; `run.py` turns it into
  * the result line. */
object PerfBench {

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.catalyst.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The untimed warm-up `graft.Bench` runs before its sweep: first use of
    * scans, shuffles, broadcast joins, local checkpoints, the graft
    * kernels, higher-order functions and a streaming micro-batch. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(100000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count().collect()
    graft.catalyst.GraftExtensions.install(spark)
    val w = spark.range(1000).toDF("id").localCheckpoint()
    w.join(broadcast(w.select(col("id").as("j"))), col("id") === col("j"))
      .selectExpr(
        "bitset_intersect_count(bitset_from_ids(array(CAST(id % 64 AS INT) + 1), 1)," +
          " bitset_from_ids(array(CAST(j % 64 AS INT) + 1), 1))",
        "ngram_shingles('warmup text', 5)", "word_bigrams('warmup text here')",
        "vec_dot(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))",
        "vec_sqdist(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))",
        "aggregate(sequence(1, 3), 0L, (a, x) -> a + x)")
      .collect()
    graft.streaming.StreamOps.warmup(spark)
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").get
    val root = Paths.get(arg(args, "--root").getOrElse(".")).toAbsolutePath.normalize
    val work = Paths.get(arg(args, "--work").get).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    try {
      workload match {
        case "record-refs" => QueryMix.recordRefs(spark, root, Paths.get(arg(args, "--verify-out").get))
        case "parity" => GenParity.run(spark)
        case _ =>
          val ctx = new Ctx(spark, arg(args, "--seed").get.toLong,
            arg(args, "--seconds").get.toDouble, arg(args, "--trace").contains("1"),
            arg(args, "--gen-port").map(_.toInt).getOrElse(0), root, work, jvmStartMs)
          workload match {
            case "feed-backfill" => Backfill.run(ctx)
            case "query-mix" => QueryMix.run(ctx)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
          val o = ctx.out
          if (!ctx.trace) { HeapPeak.checkpoint(); o.metrics("heap_peak_mb") = HeapPeak.peakMb() }
          if (ctx.trace) ctx.tracer.write(work.resolve(s"trace-$workload-${ctx.seed}.json"))
          // a value that could not be computed (an empty sample) is left
          // out, so run.py reports the metric as not measured
          val ms = o.metrics.filter(kv => !kv._2.isNaN && !kv._2.isInfinite)
            .map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
          val det = o.detail.map { case (k, v) =>
            Json.str(k) + ":" + (v match {
              case d: Double => Json.num(d)
              case n: Int => n.toString
              case n: Long => n.toString
              case s => Json.str(s.toString)
            })
          }.mkString("{", ",", "}")
          val probs = o.problems.take(20).map(Json.str).mkString("[", ",", "]")
          println(s"""PERFBENCH_RESULT {"attempted":${o.attempted},"failed":${o.failed},""" +
            s""""metrics":$ms,"detail":$det,"problems":$probs}""")
      }
    } finally spark.stop()
  }
}
