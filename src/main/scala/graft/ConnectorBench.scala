package graft

import org.apache.spark.sql.streaming.Trigger
import graft.connector.{HttpFeedClient, TestFeedServer}
import graft.udf.SeqId

/** Ingest-ceiling measurement for the DSv2 HTTP feed source against the
  * embedded TestFeedServer (loopback — so the numbers bound the CLIENT
  * stack: pagination loop, JSON parse, row materialization, and the
  * planner's head probe; a WAN deployment adds network latency that the
  * `backfillPartitions` fan-out hides even better).
  *
  * Not part of the driver's Bench contract — run ad hoc:
  *   sbt "runMain graft.ConnectorBench"
  * and record the table in BASELINE.md. Measures:
  *   1. bounded replay (batch) at 3 page sizes, 1 vs 8 partitions, with
  *      the server requests each replay cost (plan and read);
  *   2. Trigger.AvailableNow streaming replay;
  *   3. long-poll delivery latency under the 5000 ms timeout contract
  *      (reference README.md:126): idle-feed wait ≈ data-arrival delay,
  *      not the full timeout.
  */
object ConnectorBench {

  private def mkEvents(n: Int): IndexedSeq[(String, String)] =
    (1 to n).map { i =>
      val id = SeqId.encodeFn(i.toLong, f"u${i % 997}%04d")
      val json =
        s"""{"specversion":"1.0","id":"$id","type":"t.bench","source":"srv",""" +
          s""""time_us":${1700000000000000L + i * 1000L},"subject":"s${i % 64}",""" +
          s""""method":"PUT","datacontenttype":"application/json",""" +
          s""""data":"{\\"v\\":$i,\\"pad\\":\\"${"x" * 96}\\"}"}"""
      (id, json)
    }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(8)

    val nEvents = sys.env.getOrElse("GRAFT_CONNBENCH_EVENTS", "100000").toInt
    val events = mkEvents(nEvents)
    // untimed warmup: classloading + codegen for the source path
    locally {
      val w = new TestFeedServer(events.take(500), pageSize = 100)
      try {
        spark.read.format("http-feed").option("url", w.url).load().count()
      } finally w.stop()
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()

    // 1) bounded replay: page-size sweep × {1, 8} partitions. A fresh
    // server per cell — the JVM-wide page cache is keyed by URL (= port),
    // so each cell starts cold instead of replaying its predecessor's
    // cache hits.
    for (pageSize <- Seq(100, 1000, 10000); parts <- Seq(1, 8)) {
      val server = new TestFeedServer(events, pageSize = pageSize)
      try {
        val (cnt, sec) = timed {
          spark.read.format("http-feed").option("url", server.url)
            .option("backfillPartitions", parts.toString).load().count()
        }
        require(cnt == nEvents, s"replay returned $cnt of $nEvents rows")
        results(s"batch_p${pageSize}_n$parts") = sec
        results(s"batch_p${pageSize}_n${parts}_requests") = server.requestCount.toDouble
        println(f"batch pageSize=$pageSize%5d partitions=$parts%d: $sec%7.2f s  " +
          f"${nEvents / sec}%9.0f events/s  ${nEvents.toDouble / pageSize / sec}%7.1f pages/s  " +
          f"(${server.requestCount} requests)")
      } finally server.stop()
    }

    // 1b) backfill PLAN cost on the 1000-page fixture at N=8 and N=1:
    // requests + seconds spent before any executor starts. Seq-prefixed
    // ids find the head in O(log feed) via the synthesized-cursor head
    // probe at every partition count; the old histogram walk (N=8) and
    // serial drain (N=1) paid one request per page (the Amdahl stage
    // BASELINE.md bounded at <=1.52x speedup for N=8).
    for (parts <- Seq(8, 1)) {
      val server = new TestFeedServer(events, pageSize = 100) // 1000 pages at 100k
      try {
        val df = spark.read.format("http-feed").option("url", server.url)
          .option("backfillPartitions", parts.toString).load()
        val before = server.requestCount
        val (nParts, sec) = timed { df.rdd.getNumPartitions } // plan only
        val planRequests = server.requestCount - before
        results(s"plan_requests_1000p_n$parts") = planRequests.toDouble
        results(s"plan_seconds_1000p_n$parts") = sec
        println(f"backfill plan (1000 pages, N=$parts): $planRequests%d requests, " +
          f"$sec%6.3f s, $nParts%d partitions (a serial walk would be ~1001 requests)")
      } finally server.stop()
    }

    // 2) Trigger.AvailableNow streaming replay (1k pages)
    locally {
      val server = new TestFeedServer(events, pageSize = 1000)
      val ckpt = java.nio.file.Files.createTempDirectory("connbench_ckpt").toString
      try {
        val (_, sec) = timed {
          val q = spark.readStream.format("http-feed").option("url", server.url)
            .load()
            .writeStream.format("noop").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        results("stream_available_now_p1000") = sec
        println(f"stream AvailableNow pageSize=1000: $sec%7.2f s  " +
          f"${nEvents / sec}%9.0f events/s")
      } finally server.stop()
    }

    // 2a) AvailableNow backfill fan-out on the 1000-page fixture: since
    // round 16 the prepare pins the head via the O(log feed) seq probe
    // (the old histogram prepare paid one request per page BEFORE any
    // read — on seq feeds the whole walk is gone), and the pinned
    // backlog splits by sequence arithmetic. Total requests ≈ read pages
    // + 2·log₂(feed); the pre-round-16 run paid ≈ 2× the page count.
    locally {
      val server = new TestFeedServer(events, pageSize = 100) // 1000 pages
      val ckpt = java.nio.file.Files.createTempDirectory("connbench_an8").toString
      try {
        val (_, sec) = timed {
          val q = spark.readStream.format("http-feed").option("url", server.url)
            .option("backfillPartitions", "8").load()
            .writeStream.format("noop").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        results("stream_an_p100_n8") = sec
        results("stream_an_p100_n8_requests") = server.requestCount.toDouble
        println(f"stream AvailableNow pageSize=100 N=8: $sec%7.2f s  " +
          f"${nEvents / sec}%9.0f events/s  (${server.requestCount} requests; " +
          "histogram prepare alone was ~1000)")
      } finally server.stop()
    }

    // 2c) cold-resume offset probe (micro-batch catch-up after downtime):
    // latestOffset over a 1000-page backlog. The old drainHead paid one
    // serial request per page on the driver before the read re-paged the
    // same range; the seq-aware probe pays O(log backlog).
    locally {
      val server = new TestFeedServer(events, pageSize = 100)
      try {
        val stream = new graft.connector.HttpFeedMicroBatchStream(
          graft.connector.HttpFeedOptions(server.url, 0L, "", None, 1))
        val before = server.requestCount
        val (end, sec) = timed {
          stream.latestOffset(graft.connector.HttpFeedOffset(""),
            org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
        }
        val reqs = server.requestCount - before
        require(end.asInstanceOf[graft.connector.HttpFeedOffset]
          .lastEventId == events.last._1, "cold-resume probe missed the head")
        results("cold_resume_probe_requests_1000p") = reqs.toDouble
        results("cold_resume_probe_seconds_1000p") = sec
        println(f"cold-resume latestOffset (1000-page backlog): $reqs%d requests, " +
          f"$sec%6.3f s (serial drain was ~1001 requests)")
      } finally server.stop()
    }

    // 2b) steady-state micro-batch ingest under long poll — the mode a
    // subscriber actually runs in (appends arrive continuously; each
    // micro-batch long-polls, drains to head, commits). Measures
    // sustained events/s and append→sink latency: an appender thread
    // stamps each envelope with its append wall-clock as an extension
    // attribute; the foreachBatch sink diffs against arrival wall-clock.
    // Steady state is single-partition BY DESIGN (a micro-batch is small;
    // fan-out is for backfill) — the point of this row is to document
    // that the single ordered partition keeps up with a producer at
    // thousands of events/s with sub-second delivery.
    locally {
      val server = new TestFeedServer(Seq.empty, pageSize = 1000)
      val ckpt = java.nio.file.Files.createTempDirectory("connbench_steady").toString
      val latUs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val rate = sys.env.getOrElse("GRAFT_CONNBENCH_RATE", "2000").toInt // events/s
      val chunk = math.max(1, rate / 20) // appended every 50 ms
      val warmupMs = 3000L
      val measureMs = 15000L
      @volatile var stopAppend = false
      val seq = new java.util.concurrent.atomic.AtomicLong(0)
      val appender = new Thread(() => {
        while (!stopAppend) {
          val nowUs = System.currentTimeMillis() * 1000L
          val batch = (1 to chunk).map { _ =>
            val i = seq.incrementAndGet()
            val id = SeqId.encodeFn(i, f"u${i % 997}%04d")
            val json =
              s"""{"specversion":"1.0","id":"$id","type":"t.bench","source":"srv",""" +
                s""""time_us":$nowUs,"subject":"s${i % 64}","method":"PUT",""" +
                s""""datacontenttype":"application/json","append_us":"$nowUs",""" +
                s""""data":"{\\"v\\":$i}"}"""
            (id, json)
          }
          server.append(batch)
          Thread.sleep(50)
        }
      })
      appender.setDaemon(true)
      try {
        import org.apache.spark.sql.functions.{col, element_at}
        val t0 = System.currentTimeMillis()
        val measureFromUs = (t0 + warmupMs) * 1000L
        val q = spark.readStream.format("http-feed").option("url", server.url)
          .option("timeoutMs", "2000").load()
          .select(element_at(col("extensions"), "append_us").cast("long").as("append_us"))
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val arriveUs = System.currentTimeMillis() * 1000L
            df.collect().foreach { r =>
              val a = r.getLong(0)
              if (a >= measureFromUs) latUs.add(arriveUs - a)
            }
          }.start()
        appender.start()
        Thread.sleep(warmupMs + measureMs)
        stopAppend = true
        appender.join()
        q.processAllAvailable() // drain the tail so the last appends count
        q.stop()
        val ls = latUs.iterator()
        val arr = { val b = Array.newBuilder[Long]; while (ls.hasNext) b += ls.next().longValue(); b.result().sorted }
        require(arr.nonEmpty, "steady-state run sank no measured events")
        val evs = arr.length / (measureMs / 1000.0)
        val p50 = arr((arr.length - 1) / 2) / 1000.0
        val p99 = arr(math.min(arr.length - 1, (arr.length * 99) / 100)) / 1000.0
        results("steady_events_per_s") = evs
        results("steady_latency_p50_ms") = p50
        results("steady_latency_p99_ms") = p99
        println(f"steady-state ingest @ $rate%d ev/s offered: $evs%9.0f events/s sustained, " +
          f"append→sink p50 $p50%6.1f ms  p99 $p99%6.1f ms (${arr.length} events measured)")
      } finally {
        stopAppend = true
        server.stop()
      }
    }

    // 3) long-poll latency under the 5000 ms contract: an idle feed holds
    // the connection and delivers ~when data arrives (append after 500 ms),
    // NOT at the timeout; a still-idle feed returns empty at ~timeout.
    locally {
      val server = new TestFeedServer(Seq.empty, pageSize = 100)
      try {
        val appendDelayMs = 500L
        val t = new Thread(() => {
          Thread.sleep(appendDelayMs)
          server.append(Seq(mkEvents(1).head))
        })
        t.setDaemon(true); t.start()
        val (page, sec) = timed {
          HttpFeedClient.fetchPage(server.url, "", timeoutMs = 5000L)
        }
        require(!page.isEmpty, "long poll returned empty despite appended data")
        results("longpoll_data_latency") = sec
        t.join()
        val (empty, secEmpty) = timed {
          HttpFeedClient.fetchPage(server.url, page.lastId.get, timeoutMs = 1000L)
        }
        require(empty.isEmpty, "expected an empty page at head")
        results("longpoll_idle_timeout_1s") = secEmpty
        println(f"long-poll: data after ${appendDelayMs}ms delivered in $sec%5.3f s; " +
          f"idle 1000ms timeout returned in $secEmpty%5.3f s")
      } finally server.stop()
    }

    println(results.map { case (k, v) =>
      "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{\"metric\":\"connector_bench\",\"n_events\":" + nEvents + ",", ",", "}"))
    spark.stop()
  }
}
