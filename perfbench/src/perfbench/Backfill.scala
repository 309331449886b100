package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, md5}
import graft.api.Feeds
import graft.connector.{HttpFeedClient, HttpFeedInputPartition, HttpFeedPartitionReader}

/** feed-backfill: bounded replays of one seeded feed served by the
  * generator process, read with `backfillPartitions` = 4 and with 1
  * partition (the single-threaded baseline), each into
  * `Feeds.readModel` and the `noop` sink. Every repetition reads a fresh
  * URL so the JVM-wide page cache starts cold, as a new backfill does. */
object Backfill {
  val Events = 20000
  val MaxPayload = 4096
  val PageSize = 100
  val WarmReps = 6
  /** 4-partition repetitions timed untraced and traced for the tracing overhead. */
  val OverheadReps = 4

  def readModel(spark: SparkSession, url: String, parts: Int): DataFrame = {
    val feed = spark.read.format("http-feed").option("url", url)
      .option("backfillPartitions", parts.toString).load()
    Feeds.readModel(feed, col("subject"), col("id"), col("method") === "DELETE")
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val o = ctx.out
    var rep = 0
    def freshUrl(): String = { rep += 1; ctx.genUrl(s"/feed/bf/r$rep") }

    val s0 = ctx.sinceStart
    val made = ctx.gen(s"/ctl/create?name=bf&seed=${ctx.seed}&n=$Events&maxPayload=$MaxPayload")
    val expectRows = made.get("expect_rows").asInt()
    val expectDigest = made.get("expect_digest").asText()
    // untimed reads, then an idle pause so queued JIT compilations can
    // finish. Warm-up and measurement are fixed rep counts, not times, so
    // every run stops at the same point of the warm-up curve.
    (0 until WarmReps).foreach(w => readModel(spark, freshUrl(), if (w % 2 == 0) 4 else 1)
      .write.format("noop").mode("overwrite").save())
    Thread.sleep(1000)
    val setupS = ctx.sinceStart
    o.detail ++= Seq("setup.session_s" -> s0, "setup.feed_s" -> (setupS - s0))

    def once(parts: Int): Double = {
      val url = freshUrl()
      ctx.tracer.key = s"rep$rep-p$parts"
      val t0 = System.nanoTime()
      ctx.tracer.span(s"backfill-p$parts", "connector") {
        readModel(spark, url, parts).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e6
    }

    val ms4 = ArrayBuffer.empty[Double]; val ms1 = ArrayBuffer.empty[Double]
    val (req0, bytes0, busy0) = ctx.genStats
    val codegen0 = Codegen.classes
    val hits0 = HttpFeedClient.sharedCache.hits
    if (ctx.trace) ctx.engine.attach(spark)
    // repetitions per shape: 3/4 of `--seconds`, which is about
    // `--seconds` of reads at the seed's speed
    val reps = 2 * math.max(3, math.round(ctx.seconds * 0.75).toInt)
    var i = 0
    while (i < reps) {
      val parts = if (i % 2 == 0) 4 else 1
      HeapPeak.checkpoint()
      o.attempted += 1
      try (if (parts == 4) ms4 else ms1) += once(parts)
      catch { case e: Exception => o.fail(s"backfill p$parts: $e") }
      i += 1
    }
    val (req1, bytes1, busy1) = ctx.genStats
    val hits1 = HttpFeedClient.sharedCache.hits
    ctx.engine.codegenClasses = (Codegen.classes - codegen0).toDouble

    // output check, outside the timed region: row count and digest of the
    // read model against what the generator computed on its own
    Seq(4, 1).foreach { parts =>
      o.attempted += 1
      try {
        val rows = readModel(spark, freshUrl(), parts)
          .select(col("subject"), col("id"), md5(col("data"))).collect()
        val digest = Shapes.digestLines(rows.map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}").sorted)
        if (rows.length != expectRows || digest != expectDigest)
          o.fail(s"read model p$parts: ${rows.length} rows digest $digest, expected $expectRows rows $expectDigest")
      } catch { case e: Exception => o.fail(s"read model check p$parts: $e") }
    }

    val eps4 = Events / (Stats.median(ms4.toSeq) / 1000.0)
    val eps1 = Events / (Stats.median(ms1.toSeq) / 1000.0)
    o.detail ++= Seq("op_p50_ms" -> Stats.median(ms4.toSeq), "events" -> Events, "reps_p4" -> ms4.size, "reps_p1" -> ms1.size,
      "backfill_eps" -> eps4, "backfill_1p_eps" -> eps1,
      "reps_ms_p4" -> ms4.map(x => f"$x%.0f").mkString(" "), "reps_ms_p1" -> ms1.map(x => f"$x%.0f").mkString(" "))
    if (!ctx.trace) {
      o.metrics ++= Seq(
        "throughput_eps" -> eps4,
        "op_p50_ms" -> Stats.median(ms4.toSeq),
        "op_tail_ms" -> Stats.median(ms1.toSeq),
        "setup_s" -> setupS)
    } else {
      val m = o.metrics
      val pages = math.ceil(Events.toDouble / PageSize)
      val reps = ms4.size + ms1.size
      m("gen.requests") = (req1 - req0) / reps
      m("gen.bytes") = (bytes1 - bytes0) / reps
      m("gen.busy_ms") = (busy1 - busy0) / reps
      m("connector.cache_hit_ratio") = (hits1 - hits0) / (pages * reps)
      Layers.engine(ctx, per = reps)
      ctx.engine.detach(spark)
      probes(ctx, () => freshUrl(), pages)
      Layers.selfTimes(ctx)
      Layers.traceOverhead(ctx, Seq.fill(OverheadReps)(() => ctx.tracer.span("backfill-p4", "connector") {
        readModel(spark, freshUrl(), 4).write.format("noop").mode("overwrite").save()
      }))
    }
  }

  /** Connector probes, traced run only: plan-only call, requests per
    * page, a direct `HttpFeedClient.fetchPage` walk, a raw GET walk of the
    * same pages by the benchmark's own HTTP code, a partition-reader walk
    * (row build = reader minus fetch), and scan-task skew. */
  private def probes(ctx: Ctx, freshUrl: () => String, pages: Double): Unit = {
    val spark = ctx.spark
    val m = ctx.out.metrics
    val tr = ctx.tracer
    tr.key = "probes"

    val planUrl = freshUrl()
    val df = spark.read.format("http-feed").option("url", planUrl).option("backfillPartitions", "4").load()
    val r0 = ctx.genStats._1
    val t0 = System.nanoTime()
    tr.span("plan", "connector")(df.rdd.getNumPartitions)
    m("connector.plan_ms") = (System.nanoTime() - t0) / 1e6
    m("connector.plan_requests") = ctx.genStats._1 - r0

    // one traced 4-partition replay for requests per page and task skew
    ctx.engine.reset()
    ctx.engine.attach(spark)
    val r1 = ctx.genStats._1
    tr.span("skew-rep", "connector") {
      readModel(spark, freshUrl(), 4).write.format("noop").mode("overwrite").save()
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    ctx.engine.detach(spark)
    m("connector.requests_per_page") = (ctx.genStats._1 - r1) / pages
    val scan = ctx.engine.stageTaskMs.toSeq.sortBy(_._1).headOption.map(_._2.toSeq).getOrElse(Nil)
    m("connector.scan_task_skew") = if (scan.isEmpty) 0.0 else scan.max / math.max(1.0, Stats.median(scan))
    ctx.engine.reset()

    val url = freshUrl()
    val cursors = ArrayBuffer("")
    val fetchMs = ArrayBuffer.empty[Double]
    var events = 0
    tr.span("fetch-walk", "connector") {
      var done = false
      while (!done) {
        val t = System.nanoTime()
        val p = HttpFeedClient.fetchPage(url, cursors.last, 0)
        fetchMs += (System.nanoTime() - t) / 1e6
        if (p.isEmpty) done = true else { events += p.events.size; cursors += p.lastId.get }
      }
    }
    val wireMs = ArrayBuffer.empty[Double]
    tr.span("wire-walk", "gen") {
      cursors.foreach { c =>
        val t = System.nanoTime()
        val q = if (c.isEmpty) "" else "?lastEventId=" + URLEncoder.encode(c, "UTF-8")
        val conn = new URI(url + q).toURL.openConnection().asInstanceOf[HttpURLConnection]
        try conn.getInputStream.readAllBytes() finally conn.disconnect()
        wireMs += (System.nanoTime() - t) / 1e6
      }
    }
    val readerUrl = freshUrl()
    val t1 = System.nanoTime()
    var rows = 0
    tr.span("reader-walk", "connector") {
      val reader = new HttpFeedPartitionReader(HttpFeedInputPartition(readerUrl, "", cursors.last))
      while (reader.next()) { reader.get(); rows += 1 }
      reader.close()
    }
    val readerMs = (System.nanoTime() - t1) / 1e6
    if (rows != events) ctx.out.fail(s"partition reader returned $rows of $events events")
    m("connector.fetch_ms_p50") = Stats.median(fetchMs.toSeq)
    m("connector.fetch_ms_p90") = Stats.pct(fetchMs.toSeq, 0.9)
    m("connector.wire_ms_p50") = Stats.median(wireMs.toSeq)
    m("connector.rowbuild_us_per_event") = (readerMs - fetchMs.sum) * 1000.0 / math.max(1, events)
  }
}
