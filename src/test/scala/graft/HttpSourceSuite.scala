package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

import graft.connector.{HttpFeedClient, HttpFeedInputPartition, HttpFeedMetrics,
  HttpFeedPartitionReader, TestFeedServer}
import graft.udf.SeqId

/** End-to-end tests of the DSv2 HTTP feed source against the embedded feed
  * server: pagination, cursor resume, batch replay, long-poll
  * empty-then-data (README.md:123-146), and exactly-the-range semantics.
  */
class HttpSourceSuite extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def envelopeJson(seq: Long, subject: String, typ: String = "t.example"): (String, String) = {
    val id = SeqId.encodeFn(seq, f"u$seq%04d")
    val json =
      s"""{"specversion":"1.0","id":"$id","type":"$typ","source":"srv",
         |"time_us":${1700000000000000L + seq * 1000000L},"subject":"$subject",
         |"method":"PUT","datacontenttype":"application/json","data":"{\\"v\\":$seq}"}"""
        .stripMargin.replace("\n", "")
    (id, json)
  }

  /** 200 envelopes with 18-digit sequence prefixes from a 1e17 base, 4e15
    * apart: the span ≈ 8e17, so span·(n−1) overflows Long at n=16. */
  private lazy val bigSeqEvents: IndexedSeq[(String, String)] = {
    def bigEnvelope(seq: Long): (String, String) = {
      val id = f"$seq%018d::u${seq % 1000}%04d"
      (id, s"""{"specversion":"1.0","id":"$id","type":"t.big","source":"srv",""" +
        s""""time_us":1700000000000000,"subject":"s${seq % 3}","method":"PUT",""" +
        s""""datacontenttype":"application/json","data":"{\\"v\\":1}"}""")
    }
    (0L until 200L).map(i => bigEnvelope(100000000000000000L + i * 4000000000000000L))
  }

  /** Every 20th sequence of 1..8000 (90% of the low range compacted away)
    * plus all of 8001..10000. */
  private lazy val gappySeqEvents: IndexedSeq[(String, String)] =
    ((20L to 8000L by 20L) ++ (8001L to 10000L)).map(i => envelopeJson(i, s"s${i % 5}"))

  /** An envelope with an opaque, time-ordered UUIDv6 id (README.md:156-157). */
  private def uuidEnvelope(seq: Long): (String, String) = {
    val ts = 1700000000000000L + seq * 1000000L
    val id = graft.udf.Uuid6.encodeStr(ts, clockSeq = 1, node = f"$seq%012x")
    (id, s"""{"specversion":"1.0","id":"$id","type":"t.example","source":"srv",""" +
      s""""time_us":$ts,"subject":"s${seq % 7}","method":"PUT",""" +
      s""""datacontenttype":"application/json","data":"{\\"v\\":$seq}"}""")
  }

  /** What one partition reader emits — `id|data` per row, in order — and
    * the metrics it reports at the end. */
  private def readPartition(part: HttpFeedInputPartition): (Seq[String], Map[String, Long]) = {
    val r = new HttpFeedPartitionReader(part)
    try {
      val rows = ArrayBuffer[String]()
      while (r.next()) rows += s"${r.get().getUTF8String(1)}|${r.get().getUTF8String(8)}"
      (rows.toSeq, r.currentMetricsValues().map(m => m.name -> m.value).toMap)
    } finally r.close()
  }

  test("streaming replay with AvailableNow drains the feed in order") {
    val events = (1L to 250L).map(i => envelopeJson(i, s"s${i % 7}"))
    val server = new TestFeedServer(events, pageSize = 100)
    try {
      val q = spark.readStream.format("http-feed")
        .option("url", server.url).option("timeoutMs", "100").load()
        .writeStream.format("memory").queryName("http_drain")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      val got = spark.table("http_drain").orderBy("id").collect()
      assert(got.length === 250)
      assert(got.map(_.getAs[String]("id")).toSeq === events.map(_._1))
      assert(got.head.getAs[String]("data") === """{"v":1}""")
      assert(server.requestCount >= 3, "expected multiple pages")
    } finally server.stop()
  }

  test("AvailableNow replay with backfillPartitions fans the pinned backlog out, same rows") {
    // 23 pages of 10 (last one short) — the pinned backlog should split
    // into 5 page-aligned equi-depth partitions inside ONE micro-batch
    val events = (1L to 226L).map(i => envelopeJson(i, s"s${i % 5}"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val seenParts = new java.util.concurrent.atomic.AtomicInteger(0)
      val gotIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = spark.readStream.format("http-feed")
        .option("url", server.url).option("timeoutMs", "100")
        .option("backfillPartitions", "5").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          seenParts.addAndGet(batch.rdd.getNumPartitions)
          batch.collect().foreach(r => gotIds.add(r.getAs[String]("id")))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      // the single pinned batch planned 5 cursor-range partitions...
      assert(seenParts.get() === 5)
      // ...and delivered exactly the feed (total order restored by sort)
      import scala.jdk.CollectionConverters._
      assert(gotIds.asScala.toSeq.sorted === events.map(_._1))
    } finally server.stop()
  }

  test("extension attributes survive the wire verbatim (README.md:318)") {
    // one envelope with traceability extensions, one without any
    val id1 = SeqId.encodeFn(1L, "u0001")
    val json1 =
      s"""{"specversion":"1.0","id":"$id1","type":"t.example","source":"srv",
         |"time_us":1700000000000000,"subject":"s1","method":"PUT",
         |"datacontenttype":"application/json","data":"{\\"v\\":1}",
         |"traceparent":"00-4bf92f3577b34da6a3ce929d0e0e4736-00f067aa0ba902b7-01",
         |"partitionkey":"s1","sequence":42}""".stripMargin.replace("\n", "")
    val (id2, json2) = envelopeJson(2, "s2")
    val server = new TestFeedServer(Seq((id1, json1), (id2, json2)), pageSize = 10)
    try {
      val rows = spark.read.format("http-feed").option("url", server.url).load()
        .orderBy("id").collect()
      assert(rows.length === 2)
      val ext1 = rows(0).getAs[Map[String, String]]("extensions")
      assert(ext1 === Map(
        "traceparent" -> "00-4bf92f3577b34da6a3ce929d0e0e4736-00f067aa0ba902b7-01",
        "partitionkey" -> "s1",
        "sequence" -> "42")) // non-textual extension rides as its JSON text
      // core attributes are untouched by the extension walk
      assert(rows(0).getAs[String]("data") === """{"v":1}""")
      assert(rows(0).getAs[String]("subject") === "s1")
      // an envelope with no extension keys yields an EMPTY map, not null
      assert(rows(1).getAs[Map[String, String]]("extensions") === Map.empty)
    } finally server.stop()
  }

  test("batch read replays the full feed (bounded replay, README.md:95-109)") {
    val events = (1L to 45L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val df = spark.read.format("http-feed").option("url", server.url).load()
      assert(df.count() === 45)
      assert(df.agg(min("id")).head.getString(0) === events.head._1)
    } finally server.stop()
  }

  test("backfillPartitions=N: equi-depth parallel replay ≡ the single-partition read") {
    // skewed page fill (the last page is short) + a count that does not
    // divide evenly: the planner must still cover every event exactly once
    val events = (1L to 237L).map(i => envelopeJson(i, s"s${i % 11}"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val single = spark.read.format("http-feed")
        .option("url", server.url).load()
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("backfillPartitions", "6").load()
      // the scan really fans out (24 pages / 6 buckets — page-aligned)
      assert(fanned.rdd.getNumPartitions === 6)
      assert(single.rdd.getNumPartitions === 1)
      // byte-for-byte the same envelope rows once the consumer restores the
      // feed's total order by id (ext map rendered to sorted entries so the
      // row comparison is deterministic)
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.withColumn("ext_c", map_entries(col("extensions")).cast("string"))
          .drop("extensions").orderBy("id").collect().map(_.mkString("|")).toSeq
      assert(canon(fanned) === canon(single))
      assert(fanned.count() === 237)
      // a non-trivial split: no partition holds the whole feed, and the
      // equi-depth buckets stay within one page of the ideal depth
      val sizes = fanned.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.forall(s => s > 0 && s < 237))
      assert(sizes.max <= 237 / 6 + 10)
    } finally server.stop()
  }

  test("backfillPartitions resumes from a startId cursor like the single read") {
    val events = (1L to 60L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 7)
    try {
      val cursor = events(24)._1 // resume after event 25
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("startId", cursor)
        .option("backfillPartitions", "4").load()
      val ids = fanned.orderBy("id").collect().map(_.getAs[String]("id")).toSeq
      assert(ids === events.drop(25).map(_._1))
      assert(fanned.rdd.getNumPartitions === 4)
    } finally server.stop()
  }

  test("server honors synthesized seq-prefix cursors for absent ids (README.md:153-154,159)") {
    val events = (1L to 40L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      // `lpad(25)::` is NOT an id in the feed — it is a pure position,
      // sorting before every real id with sequence 25. The server must
      // honor positions even for absent ids, which is what makes the
      // O(log) backfill planner's synthesized probe cursors legal.
      val cursor = SeqId.encodeFn(25L, "")
      val page = HttpFeedClient.fetchPage(server.url, cursor, 0)
      assert(page.events.head.get("id").asText() === events(24)._1) // seq 25
      // and a probe STRICTLY past the head returns the empty page
      assert(HttpFeedClient.fetchPage(server.url, SeqId.encodeFn(41L, ""), 0).isEmpty)
      // the head-seq binary search lands exactly on the last sequence
      assert(HttpFeedClient.probeHeadSeq(server.url, 1L, SeqId.Width) === 40L)
    } finally server.stop()
  }

  test("seq-prefixed feed plans backfill in O(log feed) requests, byte-identical to the single read (README.md:159)") {
    val events = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    val server = new TestFeedServer(events, pageSize = 10) // 300 pages
    try {
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("backfillPartitions", "8").load()
      val before = server.requestCount
      assert(fanned.rdd.getNumPartitions === 8) // forces planInputPartitions
      val planRequests = server.requestCount - before
      // 1 first-page scheme probe + gallop + bisect ≈ 2·log₂(3000) ≈ 25;
      // the histogram walk this replaced needed one request PER PAGE (300+)
      assert(planRequests <= 40,
        s"plan cost $planRequests requests — the O(feed) serial walk is back")
      // 3 serial pages + 1 validation probe + 9 gallop + 8 bisect probes +
      // 1 empty-page head confirm = 22; the exact-head probe from a stride
      // of 1 costs 26
      assert(planRequests <= 24,
        s"plan cost $planRequests requests — the span-seeded head probe regressed")
      val single = spark.read.format("http-feed").option("url", server.url).load()
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.withColumn("ext_c", map_entries(col("extensions")).cast("string"))
          .drop("extensions").orderBy("id").collect().map(_.mkString("|")).toSeq
      assert(canon(fanned) === canon(single))
      // equi-width seq arithmetic over dense sequences = balanced buckets
      val sizes = fanned.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.length === 8 && sizes.forall(s => s >= 300 && s <= 450),
        s"unbalanced seq-split buckets: ${sizes.mkString(",")}")
    } finally server.stop()
  }

  test("opaque (UUIDv6) ids fall back to the histogram-walk backfill plan") {
    val events = (1L to 120L).map(uuidEnvelope)
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("backfillPartitions", "5").load()
      assert(fanned.rdd.getNumPartitions === 5)
      val ids = fanned.collect().map(_.getAs[String]("id")).sorted.toSeq
      assert(ids === events.map(_._1))
      // the single-partition read finds the head by the same serial walk
      val single = spark.read.format("http-feed").option("url", server.url).load()
      assert(single.rdd.getNumPartitions === 1)
      assert(single.collect().map(_.getAs[String]("id")).toSeq === events.map(_._1))
    } finally server.stop()
  }

  test("compaction between planning and reading: reads terminate, stay in range, return the compacted rows (README.md:153-154)") {
    val events = (1L to 200L).map(i => envelopeJson(i, s"s${i % 5}"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("backfillPartitions", "4").load()
      val fannedRdd = fanned.rdd
      val single = spark.read.format("http-feed").option("url", server.url).load()
      val singleRdd = single.rdd
      // force BOTH plans now, against the uncompacted feed
      assert(fannedRdd.getNumPartitions === 4)
      assert(singleRdd.getNumPartitions === 1)
      // the server compacts every third event away before executors read
      val removed = events.collect {
        case (id, _) if SeqId.decodeFn(id).exists(_ % 3 == 0) => id
      }.toSet
      server.compact(removed)
      // executors start cold in a real cluster (plan-time fetches happened
      // on the driver); drop the local-mode JVM-shared cache to match
      HttpFeedClient.sharedCache.clear()
      val survivors = events.map(_._1).filterNot(removed).sorted
      // planned cursor ranges stay valid: positions survive deletion, so
      // each task re-pages its (startId, endId] against the live feed and
      // returns exactly the surviving rows in range — no hang, no spill
      // past the planned head, no loss of surviving rows
      val fannedIds = fannedRdd.collect().map(_.getAs[String]("id")).sorted.toSeq
      val singleIds = singleRdd.collect().map(_.getAs[String]("id")).sorted.toSeq
      assert(fannedIds === survivors)
      assert(singleIds === survivors)
    } finally server.stop()
  }

  test("Retry-After on 429 is honored: the retry sleeps at least the server-directed interval") {
    val events = (1L to 5L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      server.failNext(1, 429, retryAfterSec = Some(1L))
      val t0 = System.nanoTime()
      val page = HttpFeedClient.fetchPage(server.url, "", 0, retryBackoffMs = 10L)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(!page.isEmpty && page.events.length === 5)
      assert(sec >= 1.0, f"retry slept only $sec%.3f s — Retry-After was ignored")
    } finally server.stop()
  }

  test("Retry-After parser: delta-seconds and HTTP-date forms (RFC 9110)") {
    assert(HttpFeedClient.parseRetryAfterMs("7") === Some(7000L))
    assert(HttpFeedClient.parseRetryAfterMs("0") === Some(0L))
    assert(HttpFeedClient.parseRetryAfterMs("") === None)
    assert(HttpFeedClient.parseRetryAfterMs("soon") === None)
    assert(HttpFeedClient.parseRetryAfterMs(null) === None)
    val fmt = java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME
    val future = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).plusSeconds(30)
    assert(HttpFeedClient.parseRetryAfterMs(future.format(fmt))
      .exists(ms => ms > 20000L && ms <= 30000L))
    val past = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).minusSeconds(30)
    assert(HttpFeedClient.parseRetryAfterMs(past.format(fmt)) === Some(0L))
  }

  test("startId option resumes strictly after the cursor (README.md:68-73)") {
    val events = (1L to 30L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val cursor = events(9)._1 // resume after event 10
      val df = spark.read.format("http-feed")
        .option("url", server.url).option("startId", cursor).load()
      val ids = df.orderBy("id").collect().map(_.getAs[String]("id")).toSeq
      assert(ids === events.drop(10).map(_._1))
    } finally server.stop()
  }

  test("long poll: empty feed blocks until data arrives, then returns it (README.md:140-141)") {
    val server = new TestFeedServer(Seq.empty, pageSize = 10)
    try {
      val (id1, json1) = envelopeJson(1, "s1")
      // appender fires while drainHead is long-polling
      val t = new Thread(() => { Thread.sleep(300); server.append(Seq((id1, json1))) })
      t.start()
      val t0 = System.nanoTime()
      val head = HttpFeedClient.drainHead(server.url, "", timeoutMs = 5000)
      val waitedMs = (System.nanoTime() - t0) / 1000000
      t.join()
      assert(head === id1, "long poll must return the appended event's id")
      assert(waitedMs >= 250, "must have blocked until the append")
      assert(waitedMs < 5000, "must not have waited for the full timeout")
    } finally server.stop()
  }

  test("subscription picks up events appended between micro-batches") {
    val first = (1L to 20L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(first, pageSize = 10)
    try {
      val q = spark.readStream.format("http-feed")
        .option("url", server.url).option("timeoutMs", "100").load()
        .writeStream.format("memory").queryName("http_live").start()
      try {
        q.processAllAvailable()
        assert(spark.table("http_live").count() === 20)
        server.append((21L to 25L).map(i => envelopeJson(i, s"s$i")))
        q.processAllAvailable()
        assert(spark.table("http_live").count() === 25)
      } finally q.stop()
    } finally server.stop()
  }

  test("pushed LIMIT caps rows AND HTTP round-trips (page budget, README.md:11)") {
    val events = (1L to 100L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val got = spark.read.format("http-feed").option("url", server.url)
        .load().limit(15).collect()
      assert(got.length === 15)
      // planning + read should touch ~2 pages each, nowhere near the 11
      // requests a full drain takes
      assert(server.requestCount <= 6,
        s"limit not pushed: ${server.requestCount} requests")
    } finally server.stop()
  }

  test("pushed id > cursor filter advances the start offset (README.md:12)") {
    val events = (1L to 100L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val cursor = events(79)._1 // skip the first 80 events
      val got = spark.read.format("http-feed").option("url", server.url)
        .load().filter(col("id") > cursor).collect()
      assert(got.length === 20)
      // without cursor pushdown this is 11 planning + 11 read requests
      assert(server.requestCount <= 8,
        s"filter not pushed: ${server.requestCount} requests")
    } finally server.stop()
  }

  test("checkpoint persists the cursor: restart resumes exactly after it (README.md:111)") {
    val first = (1L to 30L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(first, pageSize = 10)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_http_ckpt").toString
    try {
      // memory sink cannot recover from a checkpoint; foreachBatch can
      def runQuery(sink: java.util.List[String]) = {
        val collect: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
          (df, _) => df.collect().foreach(r => sink.add(r.getAs[String]("id")))
        val q = spark.readStream.format("http-feed")
          .option("url", server.url).option("timeoutMs", "100").load()
          .writeStream.option("checkpointLocation", ckpt).foreachBatch(collect).start()
        try q.processAllAvailable() finally q.stop()
      }
      val seen1 = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      runQuery(seen1)
      assert(seen1.size === 30)

      server.append((31L to 40L).map(i => envelopeJson(i, s"s$i")))
      val seen2 = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      runQuery(seen2) // fresh query, same durable cursor
      import scala.jdk.CollectionConverters._
      val resumed = seen2.asScala.sorted
      // only the events after the persisted lastEventId — nothing replayed,
      // nothing skipped (at-least-once upgraded to exactly-once)
      assert(resumed.toSeq === (31L to 40L).map(i => SeqId.encodeFn(i, f"u$i%04d")))
    } finally server.stop()
  }

  test("abortNext really truncates: a single fetch with no retries sees the IOException") {
    val events = (1L to 10L).map(i => envelopeJson(i, "s"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      server.abortNext(1)
      intercept[java.io.IOException] {
        HttpFeedClient.fetchPage(server.url, "", 0L, maxAttempts = 1)
      }
      // and with retries the very same injection is absorbed
      server.abortNext(1)
      val page = HttpFeedClient.fetchPage(server.url, "", 0L,
        maxAttempts = 3, retryBackoffMs = 1)
      assert(page.events.size === 10)
    } finally server.stop()
  }

  test("chaos: 5xx bursts, mid-page drops, server restart — no loss, no duplication (README.md:111-114)") {
    val all = (1L to 80L).map(i => envelopeJson(i, s"s${i % 7}"))
    var server = new TestFeedServer(all.take(50), pageSize = 10)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_http_chaos").toString
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    def runQuery(): Unit = {
      val collect: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (df, _) => df.collect().foreach(r => seen.add(r.getAs[String]("id")))
      val q = spark.readStream.format("http-feed")
        .option("url", server.url).option("timeoutMs", "100").load()
        .writeStream.option("checkpointLocation", ckpt).foreachBatch(collect).start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      // (1) a 503 burst right at subscription start: the reader's retry
      // loop must absorb it and the drain must still be exactly 1..50
      server.failNext(2, code = 503)
      runQuery()
      assert(seen.size === 50, "burst must not lose or duplicate events")

      // (2) connections dropped MID-PAGE (declared length, half the
      // body): premature EOF is transient; the re-fetched page replaces
      // the truncated read and the cursor advances exactly once
      server.append(all.slice(50, 65))
      server.abortNext(2)
      runQuery()
      assert(seen.size === 65, "mid-page drops must not lose or duplicate")

      // (3) server killed and restarted between micro-batches (same
      // address, full history + new tail): the persisted lastEventId
      // cursor resumes strictly after 65 — nothing re-served from the
      // restarted server's full history, nothing skipped
      val port = server.boundPort
      server.stop()
      server = new TestFeedServer(all, pageSize = 10, port = port)
      runQuery()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq === all.map(_._1),
        "after restart: every event exactly once, in id order")
    } finally server.stop()
  }

  test("compaction chaos: the persisted cursor's event is deleted mid-stream — resume sends only newer events (README.md:153-154)") {
    val first = (1L to 40L).map(i => envelopeJson(i, s"s${i % 5}"))
    val server = new TestFeedServer(first, pageSize = 10)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_http_compact").toString
    try {
      def runQuery(sink: java.util.List[String]) = {
        val collect: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
          (df, _) => df.collect().foreach(r => sink.add(r.getAs[String]("id")))
        val q = spark.readStream.format("http-feed")
          .option("url", server.url).option("timeoutMs", "100").load()
          .writeStream.option("checkpointLocation", ckpt).foreachBatch(collect).start()
        try q.processAllAvailable() finally q.stop()
      }
      val seen1 = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      runQuery(seen1)
      assert(seen1.size === 40) // persisted cursor now points at event 40
      // the server compacts away events 30..40 — INCLUDING the very event
      // the durable lastEventId names — then appends a new tail
      server.compact((30L to 40L).map(i => SeqId.encodeFn(i, f"u$i%04d")).toSet)
      server.append((41L to 55L).map(i => envelopeJson(i, s"s${i % 5}")))
      val seen2 = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      runQuery(seen2) // fresh query, same checkpoint, cursor's event gone
      import scala.jdk.CollectionConverters._
      // README.md:153-154: the server must respect the ORIGINAL position —
      // only events newer than the deleted cursor, nothing replayed
      // (events 1..29 still exist server-side), nothing skipped
      assert(seen2.asScala.sorted.toSeq ===
        (41L to 55L).map(i => SeqId.encodeFn(i, f"u$i%04d")),
        "exactly-once must hold across compaction of the cursor event")
      // same contract for a batch read whose startId was compacted away
      val batch = spark.read.format("http-feed").option("url", server.url)
        .option("startId", SeqId.encodeFn(35, "u0035")).load()
        .orderBy("id").collect().map(_.getAs[String]("id")).toSeq
      assert(batch === (41L to 55L).map(i => SeqId.encodeFn(i, f"u$i%04d")))
    } finally server.stop()
  }

  test("responses are chronological and ids strongly ordered (README.md:9,150-151)") {
    val events = (1L to 60L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 7)
    try {
      // no orderBy: the arrival order out of the connector must already be
      // the id order (single ordered partition)
      val ids = spark.read.format("http-feed").option("url", server.url)
        .load().collect().map(_.getAs[String]("id")).toSeq
      assert(ids === ids.sorted, "connector must deliver the feed in id order")
      assert(ids === events.map(_._1))
    } finally server.stop()
  }

  test("UUIDv6 time-ordered ids work as feed cursors end-to-end (README.md:156-157)") {
    import graft.udf.Uuid6
    val events = (1L to 60L).map(uuidEnvelope)
    // the scheme's cursor contract: time order ≡ lexicographic id order
    assert(events.map(_._1) === events.map(_._1).sorted,
      "UUIDv6 ids must sort lexicographically in time order")
    // codec round-trip, Scala side
    assert(Uuid6.decodeStr(events(7)._1) === 1700000000000000L + 8L * 1000000L)
    // Scala and Column codecs agree (encode AND decode)
    locally {
      import spark.implicits._
      val rows = Seq((1700000000000000L, 1, "00000000002a"),
        (1700009999123456L, 3, "0000000000ff"))
      val parity = rows.toDF("ts_us", "cs", "node")
        .select(Uuid6.encode(col("ts_us"), col("cs"), col("node")).as("uid"),
          col("ts_us"))
        .withColumn("dec", Uuid6.decodeTicks(col("uid")))
        .collect()
      rows.zip(parity).foreach { case ((ts, cs, node), r) =>
        assert(r.getAs[String]("uid") === Uuid6.encodeStr(ts, cs, node))
        assert(r.getAs[Long]("dec") === (ts + Uuid6.GregorianOffsetUs) * 10)
      }
    }
    val server = new TestFeedServer(events, pageSize = 25)
    try {
      // full batch replay over UUIDv6 pages
      val df = spark.read.format("http-feed").option("url", server.url).load()
      assert(df.count() === 60)
      // resume strictly after a UUIDv6 cursor mid-feed (README.md:150-151:
      // the deleted/compacted cursor must still position correctly — the
      // server compares ids as strings, no seq prefix to parse)
      val cursor = events(29)._1
      val resumed = spark.read.format("http-feed")
        .option("url", server.url).option("startId", cursor).load()
        .orderBy("id").collect().map(_.getAs[String]("id")).toSeq
      assert(resumed === events.drop(30).map(_._1))
      // streaming: the checkpointed offset is a UUIDv6 string; appends
      // land after it across micro-batches
      val q = spark.readStream.format("http-feed")
        .option("url", server.url).option("timeoutMs", "100").load()
        .writeStream.format("memory").queryName("http_uuid6").start()
      try {
        q.processAllAvailable()
        assert(spark.table("http_uuid6").count() === 60)
        server.append((61L to 70L).map(uuidEnvelope))
        q.processAllAvailable()
        val ids = spark.table("http_uuid6").orderBy("id")
          .collect().map(_.getAs[String]("id")).toSeq
        assert(ids === (1L to 70L).map(uuidEnvelope).map(_._1))
      } finally q.stop()
    } finally server.stop()
  }

  test("auth-protected feed: Bearer/Basic honored, missing credentials rejected (README.md:321-328)") {
    val events = (1L to 25L).map(i => envelopeJson(i, s"s$i"))
    val bearer = new TestFeedServer(events, pageSize = 10,
      requiredAuth = Some("Bearer sekret-token"))
    try {
      val ok = spark.read.format("http-feed").option("url", bearer.url)
        .option("bearerToken", "sekret-token").load()
      assert(ok.count() === 25)
      val err = intercept[Exception] {
        spark.read.format("http-feed").option("url", bearer.url).load().count()
      }
      def rootMessages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
      assert(rootMessages(err).exists(_.contains("401")),
        s"missing credentials must surface a 401, got: $err")
    } finally bearer.stop()

    val basicAuth = "Basic " + java.util.Base64.getEncoder
      .encodeToString("alice:pw".getBytes("UTF-8"))
    val basic = new TestFeedServer(events, pageSize = 10, requiredAuth = Some(basicAuth))
    try {
      val ok = spark.read.format("http-feed").option("url", basic.url)
        .option("basicUser", "alice").option("basicPass", "pw").load()
      assert(ok.count() === 25)
    } finally basic.stop()
  }

  test("empty feed yields an empty batch, not an error (README.md:79-82)") {
    val server = new TestFeedServer(Seq.empty, pageSize = 10)
    try {
      val df = spark.read.format("http-feed")
        .option("url", server.url).option("timeoutMs", "0").load()
      assert(df.count() === 0)
    } finally server.stop()
  }

  test("client retries transient 5xx with backoff and then succeeds") {
    val events = (1L to 5L).map(i => envelopeJson(i, "s"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      server.failNext(2, code = 503)
      val before = server.requestCount
      val page = HttpFeedClient.fetchPage(server.url, "", 0L,
        maxAttempts = 3, retryBackoffMs = 1)
      assert(page.events.size === 5, "third attempt must succeed")
      assert(server.requestCount - before === 3, "two failures + one success")
    } finally server.stop()
  }

  test("client gives up after maxAttempts on persistent 5xx") {
    val server = new TestFeedServer(Seq.empty, pageSize = 10)
    try {
      server.failNext(10, code = 500)
      val e = intercept[java.io.IOException] {
        HttpFeedClient.fetchPage(server.url, "", 0L,
          maxAttempts = 3, retryBackoffMs = 1)
      }
      assert(e.getMessage.contains("after 3 attempts"))
    } finally server.stop()
  }

  test("caching headers: full immutable batch is public/max-age, growing page no-store (README.md:330-332)") {
    val events = (1L to 15L).map(i => envelopeJson(i, "s"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val full = HttpFeedClient.fetchPage(server.url, "", 0L)
      assert(full.events.size === 10)
      assert(full.cacheControl.exists(_.contains("public")))
      assert(full.cacheControl.exists(_.contains("max-age")))
      assert(full.cacheable, "full batch must be cacheable")
      val partial = HttpFeedClient.fetchPage(server.url, full.lastId.get, 0L)
      assert(partial.events.size === 5)
      assert(partial.cacheControl.contains("no-store"))
      assert(!partial.cacheable, "growing tail page must not be cacheable")
    } finally server.stop()
  }

  test("principal-filtered feed is never cacheable (README.md:328)") {
    val events = (1L to 10L).map(i => envelopeJson(i, "s"))
    val server = new TestFeedServer(events, pageSize = 10,
      requiredAuth = Some("Bearer tok"))
    try {
      val page = HttpFeedClient.fetchPage(server.url, "", 0L,
        auth = Some("Bearer tok"))
      assert(page.events.size === 10, "full batch under auth")
      assert(page.cacheControl.contains("no-store"))
      assert(!page.cacheable)
    } finally server.stop()
  }

  test("simulated cache hit serves the identical full page with zero round-trips") {
    val events = (1L to 10L).map(i => envelopeJson(i, "s"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val cache = new HttpFeedClient.PageCache()
      val first = HttpFeedClient.fetchPage(server.url, "", 0L,
        cache = Some(cache))
      assert(first.cacheable && cache.size === 1)
      val n = server.requestCount
      val second = HttpFeedClient.fetchPage(server.url, "", 0L,
        cache = Some(cache))
      assert(server.requestCount === n, "cache hit must not touch the server")
      assert(cache.hits === 1)
      assert(second.events.map(_.toString) === first.events.map(_.toString),
        "cached page identical to the origin page")
      // a different cursor misses the cache and goes to the wire
      val empty = HttpFeedClient.fetchPage(server.url, first.lastId.get, 0L,
        cache = Some(cache))
      assert(server.requestCount === n + 1)
      assert(empty.isEmpty && cache.size === 1, "empty tail never cached")
    } finally server.stop()
  }

  test("auth-aware cache: principals never see each other's pages, even mislabeled public (README.md:325-328)") {
    // a MISBEHAVING server: per-principal filtered views (alice sees even
    // seqs, bob odd) yet every page stamped `public, max-age` — the spec
    // violation the cache key must defend against
    val events = (1L to 10L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 5,
      principalFilter = Some((auth, json) => {
        val seq = "\"id\":\"(\\d+)::".r.findFirstMatchIn(json).get.group(1).toLong
        if (auth.contains("Bearer alice")) seq % 2 == 0 else seq % 2 == 1
      }),
      forceCacheControl = Some("public, max-age=31536000"))
    try {
      val cache = new HttpFeedClient.PageCache()
      val alice = HttpFeedClient.fetchPage(server.url, "", 0L,
        auth = Some("Bearer alice"), cache = Some(cache))
      assert(alice.cacheable && cache.size === 1,
        "mislabeled page IS stored (that's the hazard under test)")
      val bob = HttpFeedClient.fetchPage(server.url, "", 0L,
        auth = Some("Bearer bob"), cache = Some(cache))
      assert(cache.hits === 0, "bob must not hit alice's cache entry")
      def seqs(p: HttpFeedClient.Page) =
        p.events.map(_.get("data").asText().filter(_.isDigit).toLong).toSet
      assert(seqs(alice).forall(_ % 2 == 0), "alice sees only her rows")
      assert(seqs(bob).forall(_ % 2 == 1), "bob sees only his rows")
      assert(seqs(alice).intersect(seqs(bob)).isEmpty)
      // same principal, same cursor: served from cache with no round-trip
      val n = server.requestCount
      val aliceAgain = HttpFeedClient.fetchPage(server.url, "", 0L,
        auth = Some("Bearer alice"), cache = Some(cache))
      assert(server.requestCount === n && cache.hits === 1,
        "per-principal entry still serves its own principal")
      assert(seqs(aliceAgain) === seqs(alice))
    } finally server.stop()
  }

  test("non-JSON datacontenttype passes through from the wire; missing takes the spec default (README.md:315)") {
    val binPayload = java.util.Base64.getEncoder.encodeToString(
      Array[Byte](0, 1, 2, -1, -128, 127))
    val e1 = (SeqId.encodeFn(1, "u1"),
      s"""{"specversion":"1.0","id":"${SeqId.encodeFn(1, "u1")}","type":"t.bin","source":"srv",
         |"time_us":1700000000000000,"subject":"s1","method":"PUT",
         |"datacontenttype":"application/avro+binary","data":"$binPayload"}"""
        .stripMargin.replace("\n", ""))
    // envelope with NO datacontenttype field at all
    val e2 = (SeqId.encodeFn(2, "u2"),
      s"""{"specversion":"1.0","id":"${SeqId.encodeFn(2, "u2")}","type":"t.json","source":"srv",
         |"time_us":1700000001000000,"subject":"s2","method":"PUT","data":"{\\"v\\":2}"}"""
        .stripMargin.replace("\n", ""))
    val server = new TestFeedServer(Seq(e1, e2), pageSize = 10)
    try {
      val rows = spark.read.format("http-feed").option("url", server.url).load()
        .orderBy("id").collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[String]("datacontenttype") === "application/avro+binary")
      // binary payload rides verbatim and decodes back to the exact bytes
      val decoded = java.util.Base64.getDecoder.decode(rows(0).getAs[String]("data"))
      assert(decoded.toSeq === Seq[Byte](0, 1, 2, -1, -128, 127))
      assert(rows(1).getAs[String]("datacontenttype") === "application/json",
        "missing datacontenttype must take the spec default")
      assert(rows(1).getAs[String]("data") === """{"v":2}""")
    } finally server.stop()
  }

  test("client fails fast on non-retryable 4xx (no wasted retries)") {
    val server = new TestFeedServer(Seq.empty, pageSize = 10)
    try {
      server.failNext(10, code = 404)
      val before = server.requestCount
      intercept[IllegalStateException] {
        HttpFeedClient.fetchPage(server.url, "", 0L,
          maxAttempts = 3, retryBackoffMs = 1)
      }
      assert(server.requestCount - before === 1, "4xx must not be retried")
    } finally server.stop()
  }

  // ── End-to-end composition: HTTP wire → curated corpus ─────────────────
  // The full story the engine exists for, in ONE wired checkpointed job:
  // a live feed replayed through the real DSv2 source, the envelope stream
  // keyed per subject through the transformWithState read-model state
  // machine (stream_readmodel_tws's latestTransition), and every
  // micro-batch near-dup-admitted against the already-ingested corpus
  // (stream_dedup_incremental's foreachBatch loop over
  // Pipeline.incrementalPairs) — with a full stop/restart from the
  // checkpoint mid-stream (HTTP cursor + RocksDB state both resume).
  test("e2e: live feed → source → read model + dedup admission, checkpoint-resume ≡ batch twins") {
    import spark.implicits._
    import graft.streaming.StreamOps
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.OutputMode

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def docEnvelope(seq: Long, docId: Long, lang: String, text: String,
                    method: String): (String, String) = {
      val id = SeqId.encodeFn(seq, f"d$docId%07d")
      val dataField =
        if (method == "DELETE") ""
        else {
          val dataJson =
            s"""{"doc_id":$docId,"lang":"${esc(lang)}","text":"${esc(text)}"}"""
          s""","datacontenttype":"application/json","data":"${esc(dataJson)}""""
        }
      (id, s"""{"specversion":"1.0","id":"$id","type":"doc.ingested",""" +
        s""""source":"crawler","time_us":${1700000000000000L + seq * 1000000L},""" +
        s""""subject":"$docId","method":"$method"$dataField}""")
    }

    // fixture corpus: standing docs (doc_id % 5 != 0) feed first; the
    // fresh batch (doc_id % 5 == 0) arrives after the restart, plus
    // PLANTED near-dups (standing text under a new doc_id — guaranteed
    // admission hits), updates (second PUT for a standing subject) and
    // tombstones (DELETE) so the read-model state machine has real
    // transitions to carry across the checkpoint.
    val docs = graft.io.Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val standing = docs.filter(_._1 % 5 != 0).take(120)
    val fresh = docs.filter(_._1 % 5 == 0).take(30)
    val planted = standing.take(5).map { case (id, l, t) => (900000L + id, l, t) }
    val updated = standing.slice(5, 10).map { case (id, l, t) =>
      (id, l, t + " updated tail") }
    val deleted = standing.slice(10, 15).map(_._1)
    val phase1 = standing.zipWithIndex.map { case ((id, l, t), i) =>
      docEnvelope(i + 1L, id, l, t, "PUT") }
    val n1 = phase1.length.toLong
    val phase2rows = fresh ++ planted ++ updated
    val phase2 = phase2rows.zipWithIndex.map { case ((id, l, t), i) =>
      docEnvelope(n1 + i + 1L, id, l, t, "PUT") } ++
      deleted.zipWithIndex.map { case (id, i) =>
        docEnvelope(n1 + phase2rows.length + i + 1L, id, "", "", "DELETE") }

    val server = new TestFeedServer(phase1, pageSize = 64)
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_e2e_corpus").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("graft_e2e_pairs").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_e2e_model").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_e2e_ckpt").toString
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.get(provKey,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val oldShuffle = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try {
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set("spark.sql.shuffle.partitions", "2")

      // idempotent batch-scoped overwrites (the shipped admission loop's
      // at-least-once discipline): read-model emissions land per batch,
      // the batch's PUT docs are admitted against every EARLIER batch
      val admit: (Dataset[Row], Long) => Unit = (batch, bid) => {
        val sp = batch.sparkSession
        val b = batch.localCheckpoint(true)
        b.write.mode("overwrite").parquet(s"$modelDir/batch=$bid")
        val docsB = b.filter(col("method") === "PUT")
          .select(
            get_json_object(col("data"), "$.doc_id").cast("long").as("doc_id"),
            get_json_object(col("data"), "$.lang").as("lang"),
            get_json_object(col("data"), "$.text").as("text"))
        val files = new java.io.File(corpusDir).listFiles()
        val hasCorpus = files != null && files.exists(_.getName != s"batch=$bid")
        if (hasCorpus) {
          val corpus = sp.read.parquet(corpusDir)
            .filter(col("batch") =!= bid).drop("batch")
          graft.ops.Pipeline.incrementalPairs(sp, docsB, corpus)
            .withColumn("jac_c", graft.io.Tables.canon(col("jac"))).drop("jac")
            .write.mode("overwrite").parquet(s"$pairsDir/batch=$bid")
        }
        docsB.write.mode("overwrite").parquet(s"$corpusDir/batch=$bid")
      }

      def runQuery(): Unit = {
        val ces = spark.readStream.format("http-feed")
          .option("url", server.url).option("timeoutMs", "100").load()
          .select(col("specversion"), col("id"), col("type"), col("source"),
            timestamp_micros(col("time_us")).as("time"), col("subject"),
            col("method"), col("datacontenttype"), col("data"),
            col("extensions"))
          .as[graft.model.CloudEvent]
        val model = ces.groupByKey(_.subject.getOrElse(""))
          .transformWithState(new LatestEnvelopeProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        val q = model.toDF().writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Update)
          .foreachBatch(admit).start()
        try q.processAllAvailable() finally q.stop()
      }

      runQuery()                 // phase 1: the standing corpus lands
      server.append(phase2)      // the fresh batch arrives while OFFLINE
      runQuery()                 // resume: cursor + RocksDB state restore

      // 1. corpus ≡ exactly the PUT payloads, nothing replayed or lost
      val gotCorpus = spark.read.parquet(corpusDir)
        .select("doc_id", "lang", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
      val wantCorpus = (standing ++ phase2rows).toSeq.sorted
      assert(gotCorpus === wantCorpus)

      // 2. admitted pairs ≡ the batch operator run at every recorded
      // batch boundary (same inputs → byte-identical relation)
      val bids = new java.io.File(corpusDir).listFiles()
        .map(_.getName.stripPrefix("batch=").toLong).sorted
      val wantPairs = bids.flatMap { bid =>
        val newDocs = spark.read.parquet(s"$corpusDir/batch=$bid")
        val prior = bids.filter(_ < bid)
        if (prior.isEmpty) Seq.empty
        else {
          val corpus = spark.read.parquet(
            prior.map(b => s"$corpusDir/batch=$b"): _*)
          graft.ops.Pipeline.incrementalPairs(spark, newDocs, corpus)
            .withColumn("jac_c", graft.io.Tables.canon(col("jac")))
            .select("d_new", "d_old", "jac_c").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        }
      }.sorted.toSeq
      val gotPairs = spark.read.parquet(pairsDir)
        .select("d_new", "d_old", "jac_c").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(gotPairs === wantPairs)
      // the planted near-dups guarantee the admission stage actually fired
      assert(gotPairs.map(_._1).toSet.intersect(
        planted.map(_._1).toSet).nonEmpty,
        "planted duplicates must be caught by the admission check")

      // 3. final read model ≡ the independent sequential replay of every
      // envelope (latest id per subject, tombstones out)
      val gotModel = StreamOps.finalReadModel(spark.read.parquet(modelDir))
        .select("subject", "id", "type", "method").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))).toSet
      val allEnv = (phase1 ++ phase2).map(_._2)
      val replay = allEnv.map { j =>
        def f(k: String): Option[String] =
          s""""$k":"([^"]*)"""".r.findFirstMatchIn(j).map(_.group(1))
        (f("subject").get, f("id").get, f("type").get, f("method").get)
      }.groupBy(_._1).map { case (_, es) => es.maxBy(_._2) }
        .filter(_._4 != "DELETE").toSet
      assert(gotModel === replay)
      assert(deleted.forall(id => !gotModel.exists(_._1 == id.toString)),
        "tombstoned subjects must leave the read model")
      assert(updated.forall { case (id, _, _) =>
        gotModel.exists(_._1 == id.toString) },
        "updated subjects must survive with their latest envelope")
    } finally {
      spark.conf.set(provKey, oldProvider)
      spark.conf.set("spark.sql.shuffle.partitions", oldShuffle)
      server.stop()
      import scala.jdk.CollectionConverters._
      Seq(corpusDir, pairsDir, modelDir, ckpt).foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator()
          .asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  // ──────────────────────────── round 16 ────────────────────────────

  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.withColumn("ext_c", map_entries(col("extensions")).cast("string"))
      .drop("extensions").orderBy("id").collect().map(_.mkString("|")).toSeq

  test("Retry-After is clamped: an hours-long directive cannot park a task") {
    val events = (1L to 5L).map(i => envelopeJson(i, s"s$i"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      server.failNext(1, 503, retryAfterSec = Some(99999999L))
      val t0 = System.nanoTime()
      val page = HttpFeedClient.fetchPage(server.url, "", 0,
        retryBackoffMs = 10L, maxRetryAfterMs = 400L)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(!page.isEmpty && page.events.length === 5)
      assert(sec < 5.0, f"clamp ignored: slept $sec%.1f s on a bogus Retry-After")
      assert(sec >= 0.3, f"a directive UNDER the clamp must still be honored ($sec%.3f s)")
    } finally server.stop()
  }

  test("uniformSeqBounds: overflow-safe and exact for 18-digit sequence spans") {
    import graft.connector.HttpFeedBackfill
    val lo = 0L
    val hi = Long.MaxValue - 1 // naive span·i wraps negative from i=2
    val bounds = HttpFeedBackfill.uniformSeqBounds(lo, hi, 16)
    assert(bounds.length === 15)
    assert(bounds === bounds.sorted && bounds.distinct.length === 15,
      s"bounds must be strictly increasing: ${bounds.mkString(",")}")
    assert(bounds.forall(b => b > lo && b < hi))
    // exactness: ⌊span·i/n⌋ vs BigInt on adversarial spans
    for (span <- Seq(999999999999999999L, Long.MaxValue - 7, (1L << 62) + 12345L);
         n <- Seq(2, 7, 16, 31); i <- 1 until n) {
      val expect = (BigInt(100) + BigInt(span) * i / n).toLong
      assert(HttpFeedBackfill.uniformSeqBounds(100L, 100L + span, n)(i - 1) === expect,
        s"span=$span n=$n i=$i")
    }
  }

  test("18-digit sequence bases backfill end-to-end without Long overflow in the split") {
    val events = bigSeqEvents
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("backfillPartitions", "16").load()
      val ids = fanned.collect().map(_.getAs[String]("id")).sorted.toSeq
      assert(ids === events.map(_._1))
      assert(fanned.rdd.getNumPartitions >= 8,
        "split silently degraded — overflow scrambled the bounds")
    } finally server.stop()
  }

  test("seq-parsing cursor server: the validation probe detects it and the planner falls back — no row loss") {
    val events = (1L to 120L).map(i => envelopeJson(i, s"s${i % 7}"))
    val server = new TestFeedServer(events, pageSize = 10, seqParsingCursors = true)
    try {
      // This server type resolves a synthesized never-existed cursor by
      // PARSING its sequence: `lpad(25)::` returns seq > 25, skipping the
      // seq-25 event a lexicographic server would return first…
      val probe = HttpFeedClient.fetchPage(server.url, SeqId.encodeFn(25L, ""), 0)
      assert(SeqId.decodeFn(probe.events.head.get("id").asText()) === Some(26L))
      // …which is exactly what the one-request validation probe detects:
      assert(!HttpFeedClient.validateSeqCursor(server.url, 25L, SeqId.Width))
      // the fanned plan therefore uses the real-id histogram walk and
      // still returns every row (pre-validation seq arithmetic lost the
      // boundary sequence at every synthesized partition bound here)
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("backfillPartitions", "4").load()
      val single = spark.read.format("http-feed").option("url", server.url).load()
      assert(fanned.rdd.getNumPartitions === 4)
      assert(canonRows(fanned) === canonRows(single))
      assert(fanned.count() === 120)
      assert(single.count() === 120) // N=1 also falls back to the serial walk
    } finally server.stop()
  }

  test("AvailableNow on a seq feed: O(log feed) pin, seq-arithmetic fan-out, byte-identical to the single run") {
    val events = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    // rows in arrival order, partitions seen, server requests
    def runStream(parts: Int, trigger: Trigger): (Seq[String], Int, Int) = {
      val server = new TestFeedServer(events, pageSize = 10) // 300 pages
      try {
        val seenParts = new java.util.concurrent.atomic.AtomicInteger(0)
        val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val q = spark.readStream.format("http-feed")
          .option("url", server.url).option("timeoutMs", "100")
          .option("backfillPartitions", parts.toString).load()
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val rdd = batch.withColumn("ext_c",
              map_entries(col("extensions")).cast("string")).drop("extensions").rdd
            seenParts.addAndGet(rdd.getNumPartitions)
            rdd.collect().foreach(r => rows.add(r.mkString("|")))
            ()
          }
          .trigger(trigger).start()
        if (trigger == Trigger.AvailableNow()) assert(q.awaitTermination(120000))
        else { q.processAllAvailable(); q.stop() }
        import scala.jdk.CollectionConverters._
        (rows.asScala.toSeq, seenParts.get(), server.requestCount)
      } finally server.stop()
    }
    def runAvailableNow(parts: Int): (Seq[String], Int, Int) =
      runStream(parts, Trigger.AvailableNow())
    val (fanArrival, fanParts, fanRequests) = runAvailableNow(8)
    val fanRows = fanArrival.sorted
    assert(fanParts === 8)
    assert(fanRows.length === 3000)
    // pin ≈ 2·log₂(3000) + one fanned read of ~300 pages; the retired
    // histogram prepare paid the 300 pages a SECOND time before any read
    assert(fanRequests <= 430,
      s"AvailableNow paid $fanRequests requests — the O(feed) prepare walk is back")
    val (oneArrival, oneParts, _) = runAvailableNow(1)
    assert(oneParts === 1)
    assert(fanRows === oneArrival.sorted, "fan-out changed the delivered bytes")
    // the pinned N=1 range reads ahead; a ProcessingTime run reads the same
    // range serially — same rows in the same order
    val (serialArrival, _, _) = runStream(1, Trigger.ProcessingTime(0L))
    assert(oneArrival === serialArrival, "read-ahead changed the rows or their order")
  }

  test("AvailableNow seq pin: fan-out only for the pinned end; foreign checkpoint ends stay single-partition") {
    import graft.connector.{HttpFeedMicroBatchStream, HttpFeedOffset, HttpFeedOptions, HttpFeedInputPartition}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val events = (1L to 500L).map(i => envelopeJson(i, s"s${i % 3}"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val stream = new HttpFeedMicroBatchStream(
        HttpFeedOptions(server.url, 100L, "", None, 8))
      stream.prepareForTriggerAvailableNow()
      val end = stream.latestOffset(HttpFeedOffset(""), ReadLimit.allAvailable())
      // the pin resolves the REAL head id, not a synthesized cursor
      assert(end.asInstanceOf[HttpFeedOffset].lastEventId === events.last._1)
      val parts = stream.planInputPartitions(HttpFeedOffset(""), end)
        .map(_.asInstanceOf[HttpFeedInputPartition])
      assert(parts.length === 8)
      // the fanned ranges carry the pin's validated width, so they read
      // ahead, only when all 8 run at once
      val cores = spark.sparkContext.defaultParallelism
      assert(parts.forall(_.seqWidth === Some(SeqId.Width).filter(_ => 8 <= cores)))
      // ranges telescope exactly over (start, head]
      assert(parts.head.startId === "")
      assert(parts.last.endId === events.last._1)
      parts.sliding(2).foreach { case Array(a, b) => assert(a.endId === b.startId) }
      // resume mid-feed from a checkpointed REAL id: still fans, still exact
      val mid = events(249)._1
      val partsMid = stream.planInputPartitions(HttpFeedOffset(mid), end)
        .map(_.asInstanceOf[HttpFeedInputPartition])
      assert(partsMid.length === 8)
      assert(partsMid.head.startId === mid && partsMid.last.endId === events.last._1)
      // an end written by a DIFFERENT run is NOT this pin: fanning out
      // against it could end short of `e` — single partition instead
      val foreign = stream.planInputPartitions(
        HttpFeedOffset(""), HttpFeedOffset(events(300)._1))
      assert(foreign.length === 1)
      assert(foreign.head.asInstanceOf[HttpFeedInputPartition].seqWidth === None)
      // a single-partition range, and a fan-out no wider than the cores,
      // carry it too
      for (n <- Seq(1, math.min(cores, 8))) {
        val pinned = new HttpFeedMicroBatchStream(HttpFeedOptions(server.url, 100L, "", None, n))
        pinned.prepareForTriggerAvailableNow()
        val pinEnd = pinned.latestOffset(HttpFeedOffset(""), ReadLimit.allAvailable())
        assert(pinned.planInputPartitions(HttpFeedOffset(""), pinEnd)
          .map(_.asInstanceOf[HttpFeedInputPartition].seqWidth).toSeq ===
          Seq.fill(n)(Some(SeqId.Width)))
      }
    } finally server.stop()
  }

  test("micro-batch catch-up after downtime: latestOffset probes the head in O(log backlog) requests") {
    import graft.connector.{HttpFeedMicroBatchStream, HttpFeedOffset, HttpFeedOptions}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val events = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    val server = new TestFeedServer(events, pageSize = 10) // 300-page backlog
    try {
      val stream = new HttpFeedMicroBatchStream(
        HttpFeedOptions(server.url, 0L, "", None, 1))
      val before = server.requestCount
      val end = stream.latestOffset(HttpFeedOffset(""), ReadLimit.allAvailable())
      val cold = server.requestCount - before
      assert(end.asInstanceOf[HttpFeedOffset].lastEventId === events.last._1)
      assert(cold <= 60,
        s"cold resume paid $cold requests — the O(backlog) serial drain is back")
      // steady state at head: ONE request (the empty page), same as before
      val before2 = server.requestCount
      val same = stream.latestOffset(end.asInstanceOf[HttpFeedOffset], ReadLimit.allAvailable())
      assert(same.asInstanceOf[HttpFeedOffset].lastEventId === events.last._1)
      assert(server.requestCount - before2 === 1)
      // steady state with a small append: two requests (page + confirm)
      val extra = (3001L to 3005L).map(i => envelopeJson(i, s"s$i"))
      server.append(extra)
      val before3 = server.requestCount
      val adv = stream.latestOffset(end.asInstanceOf[HttpFeedOffset], ReadLimit.allAvailable())
      assert(adv.asInstanceOf[HttpFeedOffset].lastEventId === extra.last._1)
      assert(server.requestCount - before3 === 2)
    } finally server.stop()
  }

  test("auth-protected feed: seq-split backfill threads credentials through every probe") {
    val events = (1L to 300L).map(i => envelopeJson(i, s"s${i % 7}"))
    val server = new TestFeedServer(events, pageSize = 10,
      requiredAuth = Some("Bearer s3cr3t"))
    try {
      // every plan request — scheme detect, validation probe, gallop/bisect
      // head probes, head-id resolve — and every reader page must carry the
      // Authorization header, or the 401 fails the plan outright
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("bearerToken", "s3cr3t")
        .option("backfillPartitions", "4").load()
      assert(fanned.rdd.getNumPartitions === 4)
      val ids = fanned.collect().map(_.getAs[String]("id")).sorted.toSeq
      assert(ids === events.map(_._1))
      // and without credentials the read still fails fast
      val denied = intercept[Exception] {
        spark.read.format("http-feed").option("url", server.url)
          .option("backfillPartitions", "4").load().count()
      }
      def root(t: Throwable): Throwable =
        if (t.getCause == null || t.getCause == t) t else root(t.getCause)
      assert(root(denied).isInstanceOf[SecurityException])
    } finally server.stop()
  }

  test("gappy/compacted seq feed: density-probed boundaries balance partition depths within 1.5×") {
    // 90% of the low range compacted away: live seqs are every 20th of
    // 1..8000 (400 events) plus ALL of 8001..10000 (2000 events)
    val events = gappySeqEvents
    val server = new TestFeedServer(events, pageSize = 50)
    try {
      val before = server.requestCount
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("backfillPartitions", "4").load()
      assert(fanned.rdd.getNumPartitions === 4) // forces the plan
      val planRequests = server.requestCount - before
      assert(planRequests <= 80,
        s"balance refinement cost $planRequests requests — must stay O(N + log feed)")
      val sizes = fanned.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.sum === events.length)
      // uniform span division gives ~100/100/125/2075 here (16× skew)
      assert(sizes.min > 0 && sizes.max.toDouble / sizes.min <= 1.5,
        s"skewed buckets: ${sizes.mkString(",")}")
      val single = spark.read.format("http-feed").option("url", server.url).load()
      assert(canonRows(fanned) === canonRows(single))
    } finally server.stop()
  }

  test("backfillPartitions=1: the single-partition read finds the head in O(log feed) requests, rows ≡ the N=8 read") {
    val events = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    val server = new TestFeedServer(events, pageSize = 10) // 300 pages
    try {
      val single = spark.read.format("http-feed").option("url", server.url).load()
      val before = server.requestCount
      assert(single.rdd.getNumPartitions === 1) // forces planInputPartitions
      val planRequests = server.requestCount - before
      // a serial walk to the head would cost one request per page (301)
      assert(planRequests <= 40,
        s"N=1 plan cost $planRequests requests — the O(feed) serial walk is back")
      val fanned = spark.read.format("http-feed")
        .option("url", server.url).option("backfillPartitions", "8").load()
      assert(canonRows(single) === canonRows(fanned))
      assert(single.count() === 3000)
    } finally server.stop()
  }

  test("span-seeded head probe resolves the real last event id on dense, gappy and 18-digit-base feeds") {
    val dense = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    for ((events, pageSize) <- Seq((dense, 10), (gappySeqEvents, 50), (bigSeqEvents, 10))) {
      val server = new TestFeedServer(events, pageSize = pageSize)
      try {
        val head = HttpFeedClient.resolveHead(server.url, "", 0)
        assert(head.id === events.last._1)
        val (lastSeq, width) = HttpFeedClient.parseSeqId(events.last._1).get
        assert(head.seq.map(s => (s.width, s.headSeq)) === Some((width, lastSeq)),
          "the head was not found by the seq probe")
        // the span only coarsens the stop: the head lies in [lo, lo + span)
        val (firstSeq, _) = HttpFeedClient.parseSeqId(events.head._1).get
        val span = HttpFeedClient.parseSeqId(events(pageSize - 1)._1).get._1 - firstSeq + 1
        val (lo, loId, _) = HttpFeedClient.probeHeadSeqSampled(server.url, firstSeq, width,
          span = span)
        assert(lo <= lastSeq && lastSeq < lo + span, s"lo=$lo span=$span head=$lastSeq")
        assert(loId.exists(id => id <= events.last._1))
        // and without a span the public probe still lands exactly on the head
        assert(HttpFeedClient.probeHeadSeq(server.url, firstSeq, width) === lastSeq)
      } finally server.stop()
    }
  }

  test("read-ahead partition read ≡ the serial walk: same rows, same order, same range") {
    val dense = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    for ((events, pageSize) <- Seq((dense, 10), (gappySeqEvents, 50), (bigSeqEvents, 10))) {
      val server = new TestFeedServer(events, pageSize = pageSize)
      try {
        val ids = events.map(_._1)
        val width = HttpFeedClient.parseSeqId(ids.head).get._2
        // ends at a made-up cursor: before every event of this sequence
        val madeUp = HttpFeedClient.seqCursor(
          HttpFeedClient.parseSeqId(ids(ids.length * 3 / 4)).get._1, width)
        for ((start, end) <- Seq(("", ids.last), (ids(ids.length / 5), ids.last), ("", madeUp))) {
          val part = HttpFeedInputPartition(server.url, start, end)
          val (serial, serialM) = readPartition(part)
          val (ahead, aheadM) = readPartition(part.copy(seqWidth = Some(width)))
          assert(serial.map(_.takeWhile(_ != '|')) === ids.filter(i => i > start && i <= end))
          assert(ahead === serial, s"start=$start end=$end")
          def pages(m: Map[String, Long]) =
            m(HttpFeedMetrics.Requests) + m(HttpFeedMetrics.CacheHits)
          // the chunks really ran: each chunk ending at a made-up cursor
          // pages past its end once
          if (events eq dense)
            assert(pages(aheadM) > pages(serialM), s"no read-ahead: $aheadM vs $serialM")
        }
      } finally server.stop()
    }
  }

  test("read-ahead on a range that grows sparser after its first page: the chunk span adapts") {
    // 10 dense pages, then 30 pages of every 1000th sequence up to 300000
    val events = ((1L to 100L) ++ (1000L to 300000L by 1000L)).map(i => envelopeJson(i, s"s${i % 7}"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      val part = HttpFeedInputPartition(server.url + "/serial", "", events.last._1)
      val (serial, serialM) = readPartition(part)
      val (ahead, aheadM) = readPartition(part.copy(url = server.url + "/ahead",
        seqWidth = Some(SeqId.Width)))
      assert(serial.length === events.length)
      assert(ahead === serial)
      // chunks of a fixed 8 × 10 sequences would cost ~3750 requests here
      val (s, a) = (serialM(HttpFeedMetrics.Requests), aheadM(HttpFeedMetrics.Requests))
      assert(a <= 2 * s, s"read-ahead cost $a requests, the serial walk $s")
    } finally server.stop()
  }

  test("close() in the middle of a read-ahead range stops further server requests") {
    val events = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    val server = new TestFeedServer(events, pageSize = 10) // 300 pages
    try {
      val r = new HttpFeedPartitionReader(HttpFeedInputPartition(server.url, "",
        events.last._1, seqWidth = Some(SeqId.Width)))
      assert(r.next()) // first page read; the chunks start now
      r.close()
      Thread.sleep(300)
      val settled = server.requestCount
      Thread.sleep(300)
      assert(server.requestCount === settled, "chunks kept requesting after close()")
      // left alone, the first ReadAhead chunks alone fetch 1 + 4 × 9 pages
      import HttpFeedPartitionReader.{ChunkPages, ReadAhead}
      assert(settled < 1 + ReadAhead * ChunkPages / 2,
        s"$settled requests: close() did not cancel the chunks in flight")
    } finally server.stop()
  }

  test("read-ahead chunks retry a 5xx burst; a persistent 5xx fails the read and names the URL") {
    val events = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    val server = new TestFeedServer(events, pageSize = 10)
    try {
      // distinct paths keep the two reads apart in the URL-keyed page cache
      val part = HttpFeedInputPartition(server.url + "/burst", "", events.last._1,
        seqWidth = Some(SeqId.Width))
      val r = new HttpFeedPartitionReader(part)
      val ids = ArrayBuffer[String]()
      try {
        assert(r.next()); ids += r.get().getUTF8String(1).toString
        // the reader fetched only its first page: the burst lands on chunks
        server.failNext(2, code = 503)
        while (r.next()) ids += r.get().getUTF8String(1).toString
      } finally r.close()
      assert(ids.toSeq === events.map(_._1))
      // the burst was consumed: a single-attempt request succeeds
      assert(HttpFeedClient.fetchPage(server.url, "", 0, maxAttempts = 1).events.nonEmpty)

      val failing = new HttpFeedPartitionReader(part.copy(url = server.url + "/persistent"))
      try {
        assert(failing.next())
        server.failNext(Int.MaxValue, code = 500)
        val e = intercept[java.io.IOException] { while (failing.next()) () }
        assert(e.getMessage.contains(server.url + "/persistent"), e.getMessage)
      } finally failing.close()
    } finally server.stop()
  }

  test("LIMIT, UUIDv6 and seq-parsing-server reads stay serial: the same requests as before read-ahead") {
    def requests(server: TestFeedServer)(read: => Int): (Int, Int) = {
      val before = server.requestCount
      val rows = read
      (rows, server.requestCount - before)
    }
    def load(url: String) = spark.read.format("http-feed").option("url", url).load()
    val seqEvents = (1L to 300L).map(i => envelopeJson(i, s"s${i % 7}"))
    val limited = new TestFeedServer(seqEvents, pageSize = 10)
    val uuid = new TestFeedServer((1L to 300L).map(uuidEnvelope), pageSize = 10)
    val parsing = new TestFeedServer(seqEvents, pageSize = 10, seqParsingCursors = true)
    try {
      // the counts the serial reader made before read-ahead existed (plan
      // and read together): a pushed LIMIT's page budget, the opaque-id
      // walk, and the seq-parsing server's walk plus its detect probe
      assert(requests(limited)(load(limited.url).limit(15).collect().length) === (15, 4))
      assert(requests(uuid)(load(uuid.url).collect().length) === (300, 58))
      assert(requests(parsing)(load(parsing.url).collect().length) === (300, 59))
    } finally Seq(limited, uuid, parsing).foreach(_.stop())
  }

  test("scan metrics: requests, page-cache hits and read-ahead stall ms reach BatchScanExec") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val events = (1L to 3000L).map(i => envelopeJson(i, s"s${i % 13}"))
    val server = new TestFeedServer(events, pageSize = 10) // 300 pages
    try {
      val df = spark.read.format("http-feed").option("url", server.url).load()
      val before = server.requestCount
      assert(df.collect().length === 3000)
      val total = server.requestCount - before
      val scan = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b
      }.head
      val m = Seq(HttpFeedMetrics.Requests, HttpFeedMetrics.CacheHits, HttpFeedMetrics.StallMs)
        .map(n => n -> scan.metrics(n).value).toMap
      // the plan's first pages went through the page cache: the reader's
      // first page is a hit, not a request
      assert(m(HttpFeedMetrics.CacheHits) >= 1, m)
      // every reader request reached the server; the plan made the rest
      assert(m(HttpFeedMetrics.Requests) > 0 && m(HttpFeedMetrics.Requests) < total, m)
      // the read-ahead chunks walked every page, plus at most one crossing
      // page per chunk (300 pages in chunks of 8)
      val walked = m(HttpFeedMetrics.Requests) + m(HttpFeedMetrics.CacheHits)
      assert(walked >= 300 && walked <= 300 + 300 / HttpFeedPartitionReader.ChunkPages + 1, m)
      assert(m(HttpFeedMetrics.StallMs) >= 0)
    } finally server.stop()
  }
}

/** Test-local transformWithState processor for the e2e composition test:
  * the stream_readmodel_tws state machine (StreamOps.latestTransition —
  * ValueState of the max-id envelope, tombstone clears) emitting the FULL
  * envelope so the downstream admission loop can parse the doc payload. */
class LatestEnvelopeProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, graft.model.CloudEvent, graft.model.CloudEvent] {
  @transient private var latest:
    org.apache.spark.sql.streaming.ValueState[graft.model.CloudEvent] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    latest = getHandle.getValueState[graft.model.CloudEvent]("latest",
      org.apache.spark.sql.Encoders.product[graft.model.CloudEvent],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[graft.model.CloudEvent],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[graft.model.CloudEvent] = {
    val prior = if (latest.exists()) Some(latest.get()) else None
    val (cur, keep) = graft.streaming.StreamOps.latestTransition(prior, rows)
    if (keep) latest.update(cur) else latest.clear()
    Iterator.single(cur)
  }
}
