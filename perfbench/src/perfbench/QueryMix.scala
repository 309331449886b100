package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.api.QueryHygiene
import graft.perfbench.SharedBuilds

/** query-mix: one cold-JVM pass over a fixed key list (`querymix.json`),
  * in an order permuted by the seed, after `graft.Bench`'s untimed
  * warm-up. Each key is timed as its build (`SparkEntry.queries(k)`) plus
  * a write of every row and column to the `noop` sink, inside
  * `QueryHygiene.run`; the sweep that follows the body is timed too.
  * Outputs are checked against `refs.json` between the two, outside the
  * timed region. */
object QueryMix {
  val SfDir = "perfbench/data/sf0.01"
  /** Keys timed untraced and traced for the tracing overhead. */
  val OverheadKeys = 4

  final case class Key(name: String, stratum: String, family: String)

  val Families = Seq("dedup", "graph", "vec", "text", "stream", "relational", "ts", "feed")

  /** The measured keys with their stratum and their family (for
    * `ops.<family>_s`), as `querymix.json` lists them. */
  def keys(root: Path): Seq[Key] = {
    val j = Json.read(root.resolve("perfbench/querymix.json")).get("strata")
    j.fieldNames().asScala.toSeq.flatMap { s =>
      j.get(s).fields().asScala.map { e =>
        require(Families.contains(e.getValue.asText()), s"${e.getKey}: unknown family ${e.getValue}")
        Key(e.getKey, s, e.getValue.asText())
      }
    }
  }

  /** The shared-cache builds of `graft.Bench` that the keys use, each
    * with its consumers (key-name prefixes, as in `graft.Bench`). */
  def sharedBuilds(spark: SparkSession, sf: String, ks: Seq[String]): Seq[(String, () => Unit)] =
    Seq[(String, Seq[String], () => Unit)](
      ("_build_table_scan_warm", Seq(""), () => {
        // independent scans from a small pool, as graft.Bench does
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        try Seq("lineitem", "orders", "customer", "part", "supplier", "events", "documents", "embeddings")
          .map(t => pool.submit(() => spark.read.parquet(s"$sf/$t.parquet").count())).foreach(_.get())
        finally pool.shutdown()
      }),
      ("_build_graph_adjacency", Seq("graph_", "rec_coverage_metrics"), () => SharedBuilds.graphAdjacency(spark, sf)),
      ("_build_stream_fixture_rows", Seq("stream_"), () => SharedBuilds.streamFixtureRows(spark, sf))
    ).collect { case (n, consumers, body) if ks.exists(k => consumers.exists(k.startsWith)) => n -> body }

  /** Canonical text of a value: maps by sorted entry, nested rows and
    * arrays element by element, floats in Java's shortest form. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: scala.collection.Seq[_] => a.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  /** (rows, order-insensitive digest) of a result: SHA-256 over the sorted
    * canonical rows, columns in name order. Results are small (at most a
    * few thousand rows), so they are collected. */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns.sorted
    val idx = names.map(df.columns.indexOf(_))
    val rows = df.collect().map(r => idx.map(i => canon(r.get(i))).mkString("\t"))
    (rows.length.toLong, Shapes.digestLines(rows.sorted))
  }

  /** Check one key's output against its reference. */
  def check(df: DataFrame, ref: com.fasterxml.jackson.databind.JsonNode): Option[String] =
    if (ref == null) Some("no reference")
    else if (ref.has("bound")) {
      // approximate key: relative error per group against exact counts
      val exact = ref.get("exact")
      val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val names = exact.fieldNames().asScala.toSet
      if (got.keySet != names) Some(s"groups ${got.keySet} vs $names")
      else {
        val worst = names.map(n => math.abs(got(n) - exact.get(n).asLong()).toDouble / math.max(1L, exact.get(n).asLong())).max
        if (worst > ref.get("bound").asDouble()) Some(s"relative error $worst above ${ref.get("bound").asDouble()}") else None
      }
    } else {
      val (rows, d) = digest(df)
      if (rows != ref.get("rows").asLong() || d != ref.get("digest").asText())
        Some(s"$rows rows digest $d, expected ${ref.get("rows").asLong()} rows ${ref.get("digest").asText()}")
      else None
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val o = ctx.out
    val tr = ctx.tracer
    val sf = ctx.root.resolve(SfDir).toString
    val refs = Json.read(ctx.root.resolve("perfbench/refs.json"))
    val ks = keys(ctx.root)
    val s0 = ctx.sinceStart
    PerfBench.warmup(spark, sf)
    // untimed: the warm-up keys (not measured) take the engine's
    // first-query costs off whichever measured keys the seed puts first
    Json.read(ctx.root.resolve("perfbench/querymix.json")).get("warmup").elements().asScala.map(_.asText())
      .foreach(k => QueryHygiene.run(spark, k)(SparkEntry.queries(k)(spark, sf).write.format("noop").mode("overwrite").save()))
    val s1 = ctx.sinceStart
    if (ctx.trace) ctx.engine.attach(spark)
    val shared = sharedBuilds(spark, sf, ks.map(_.name)).map { case (n, body) =>
      val t0 = System.nanoTime()
      tr.key = n
      tr.span(n, "ops")(body())
      n -> (System.nanoTime() - t0) / 1e6
    }
    val sharedMs = shared.map(_._2).sum
    val setupS = ctx.sinceStart
    o.detail ++= Seq("setup.session_s" -> s0, "setup.warmup_s" -> (s1 - s0)) ++ shared.map { case (n, ms) => s"setup.$n" -> ms / 1000 }
    val order = new scala.util.Random(ctx.seed).shuffle(ks)
    val codegen0 = Codegen.classes
    val wallMs = mutable.LinkedHashMap.empty[String, Double]
    val fam = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var buildMs, sweepMs, fixtureMs, firstExtraMs, driverOnlyMs = 0.0
    var unpersisted = 0
    var checkMs = 0.0
    val progress = new Layers.ProgressLog
    if (ctx.trace) { ctx.engine.reset(); spark.streams.addListener(progress) }
    order.foreach { case Key(k, _, family) =>
      HeapPeak.checkpoint()
      o.attempted += 1
      tr.key = k
      sc.setLocalProperty(Tracer.KeyProp, k)
      val layer = if (family == "stream") "streaming" else "ops"
      var timedNs = 0L
      var bodyEnd = 0L
      var persistedAtEnd = 0
      val t0 = System.nanoTime()
      try {
        val wall = tr.span(k, "ops") {
          QueryHygiene.run(spark, k) {
            val b0 = System.nanoTime()
            val df = tr.span("build", layer)(SparkEntry.queries(k)(spark, sf))
            val b1 = System.nanoTime()
            tr.span("write", "engine")(df.write.format("noop").mode("overwrite").save())
            val w1 = System.nanoTime()
            timedNs = w1 - t0
            buildMs += (b1 - b0) / 1e6
            if (layer == "streaming") fixtureMs += (b1 - b0) / 1e6
            if (ctx.trace) {
              driverOnlyMs += (w1 - t0) / 1e6 - { org.apache.spark.PerfbenchBus.drain(sc); ctx.engine.jobMs(k, t0, w1) }
              val r0 = System.nanoTime()
              tr.span("warm-write", "engine")(df.write.format("noop").mode("overwrite").save())
              firstExtraMs += (w1 - b1 - (System.nanoTime() - r0)) / 1e6
            }
            // output check, outside the timed region but before the sweep
            // unpersists the blocks the DataFrame reads
            val c0 = System.nanoTime()
            tr.span("check", "bench")(check(df, refs.get(k))).foreach(p => o.fail(s"$k: $p"))
            checkMs += (System.nanoTime() - c0) / 1e6
            persistedAtEnd = sc.getPersistentRDDs.size
            bodyEnd = System.nanoTime()
          }
          val t1 = System.nanoTime()
          tr.add(Span(tr.newId(), tr.current, k, "sweep", "hygiene", bodyEnd, t1))
          sweepMs += (t1 - bodyEnd) / 1e6
          unpersisted += persistedAtEnd - sc.getPersistentRDDs.size
          (timedNs + t1 - bodyEnd) / 1e6
        }
        wallMs(k) = wall
        fam(family) += wall / 1000.0
      } catch { case e: Throwable => o.fail(s"$k: $e") }
    }
    sc.setLocalProperty(Tracer.KeyProp, null)
    val walls = wallMs.values.toSeq
    o.detail ++= Seq("op_p50_ms" -> Stats.median(walls), "keys" -> ks.size, "query_mix_s" -> walls.sum / 1000.0,
      "query_p50_ms" -> Stats.median(walls), "query_p90_ms" -> Stats.pct(walls, 0.9),
      "query_top_quarter_ms" -> Stats.topQuarterMean(walls))
    o.detail("check_s") = checkMs / 1000
    o.detail ++= wallMs.map { case (k, ms) => s"key.$k" -> ms }
    if (!ctx.trace) {
      o.metrics ++= Seq(
        "throughput_eps" -> walls.size / (walls.sum / 1000.0),
        "op_p50_ms" -> Stats.median(walls),
        "op_tail_ms" -> Stats.topQuarterMean(walls),
        "setup_s" -> setupS)
    } else {
      val m = o.metrics
      ctx.engine.codegenClasses = (Codegen.classes - codegen0).toDouble
      Layers.engine(ctx, per = 1)
      ctx.engine.detach(spark)
      spark.streams.removeListener(progress)
      Layers.streaming(ctx, progress.toSeq)
      m("engine.first_run_extra_ms") = firstExtraMs
      m("engine.driver_only_ms") = driverOnlyMs
      m("ops.build_ms") = buildMs
      m("ops.shared_build_ms") = sharedMs
      Families.foreach(f => m(s"ops.${f}_s") = fam(f))
      m("streaming.fixture_ms") = fixtureMs
      m("hygiene.sweep_ms") = sweepMs
      m("hygiene.unpersisted") = unpersisted
      Layers.selfTimes(ctx)
      // warm tail keys, each once untraced and once traced
      Layers.traceOverhead(ctx, order.filter(_.stratum == "tail").take(OverheadKeys).map { key => () =>
        tr.span(key.name, "ops")(QueryHygiene.run(spark, key.name) {
          val df = tr.span("build", "ops")(SparkEntry.queries(key.name)(spark, sf))
          tr.span("write", "engine")(df.write.format("noop").mode("overwrite").save())
        })
      })
    }
  }

  /** Write `refs.json` from a `graft.Verify` output directory whose keys
    * passed `tools/check.py`: the row count and digest of each key's
    * stored result, checked against the digest of the live result. */
  def recordRefs(spark: SparkSession, root: Path, verifyOut: Path): Unit = {
    val sf = root.resolve(SfDir).toString
    PerfBench.warmup(spark, sf)
    val ks = keys(root).map(_.name)
    sharedBuilds(spark, sf, ks).foreach(_._2())
    val lines = ks.sorted.flatMap { k =>
      if (k == "agg_approx_distinct") {
        val exact = graft.io.Tables.events(spark, sf).groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n")).collect()
          .sortBy(_.getString(0)).map(r => s""""${r.getString(0)}":${r.getLong(1)}""").mkString(",")
        Some(s"""  "$k": {"bound": 0.15, "exact": {$exact}}""")
      } else {
        val (rows, d) = digest(spark.read.parquet(verifyOut.resolve(k).toString))
        val live = QueryHygiene.run(spark, k)(digest(SparkEntry.queries(k)(spark, sf)))
        if (live != ((rows, d))) {
          System.err.println(s"REFS_SKIP $k: stored $rows/$d, live ${live._1}/${live._2}")
          None
        } else Some(s"""  "$k": {"rows": $rows, "digest": "$d"}""")
      }
    }
    Files.writeString(root.resolve("perfbench/refs.json"), lines.mkString("{\n", ",\n", "\n}\n"))
    println(s"wrote ${lines.size} of ${ks.size} references")
  }
}
