package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.api.QueryHygiene
import graft.model.CloudEvent
import graft.streaming.StreamOps

/** Read-model emission row (top-level: Spark encoders need a static outer
  * scope for case classes used in streams). */
case class RmOut(subject: String, id: String, method: String)

/** Per-key event counter whose ValueState carries a processing-time TTL:
  * state older than `ttlMs` is evicted before the next read, so a count
  * restarts after an idle gap — the wall-clock retention policy
  * TTLConfig implements (deterministic retention lives in
  * StreamOps.SessionTimerProcessor's event-time timers). */
class TtlCountProcessor(ttlMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamOps.Ev, (Long, Long)] {
  @transient private var n: org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    n = getHandle.getValueState[Long]("n",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(ttlMs)))

  override def handleInputRows(key: Long, rows: Iterator[StreamOps.Ev],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
    val cur = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(cur)
    Iterator.single((key, cur))
  }
}

/** Streaming-vs-batch parity (SURVEY §5.4-5.5): the stateful operators fed
  * in multiple micro-batches must agree with their batch formulations on
  * the same data, for any batch split.
  */
class StreamingSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def feed(n: Int): Seq[CloudEvent] =
    CloudEvent.fromEvents(graft.io.Tables.events(spark, TestSpark.sfDir))
      .collect().sortBy(_.id).take(n).toSeq

  private def batchReadModel(events: Seq[CloudEvent]): Map[String, String] = {
    val w = Window.partitionBy("subject").orderBy(col("id").desc)
    events.toDS().toDF()
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("method") =!= CloudEvent.DELETE)
      .as[CloudEvent].collect().map(e => e.subject.get -> e.id).toMap
  }



  private def streamReadModel(batches: Seq[Seq[CloudEvent]], name: String): Map[String, String] = {
    val ms = MemoryStream[CloudEvent](spark)
    // the SAME transition the shipped fixtures run (StreamOps.latestTransition)
    def update(subject: String, it: Iterator[CloudEvent],
               state: GroupState[CloudEvent]): Iterator[RmOut] = {
      val (latest, keep) = StreamOps.latestTransition(state.getOption, it)
      if (keep) state.update(latest) else state.remove()
      Iterator.single(RmOut(subject, latest.id, latest.method.getOrElse(CloudEvent.PUT)))
    }
    val model = ms.toDS().groupByKey(_.subject.getOrElse(""))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
    val q = model.toDF().writeStream.format("memory")
      .queryName(name).outputMode(OutputMode.Update).start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    StreamOps.finalReadModel(spark.table(name))
      .collect().map(r => r.getAs[String]("subject") -> r.getAs[String]("id")).toMap
  }

  test("stateful read model ≡ batch compaction for a 2-way batch split") {
    val all = feed(600)
    val expected = batchReadModel(all)
    val (b1, b2) = all.splitAt(300)
    assert(streamReadModel(Seq(b1, b2), "rm_parity_2") === expected)
  }

  test("stateful read model ≡ batch compaction for 1-way and 4-way splits") {
    val all = feed(400)
    val expected = batchReadModel(all)
    assert(streamReadModel(Seq(all), "rm_parity_1") === expected)
    val quarters = all.grouped(100).toSeq
    assert(streamReadModel(quarters, "rm_parity_4") === expected)
  }

  test("tombstone in a later batch removes state built in an earlier batch (README.md:290)") {
    val put = CloudEvent("1.0", "0000000000001::a", "t", "s",
      new java.sql.Timestamp(1000), Some("subj-1"), Some(CloudEvent.PUT),
      None, Some("""{"v":1}"""))
    val del = put.copy(id = "0000000000002::b", method = Some(CloudEvent.DELETE), data = None)
    val other = put.copy(id = "0000000000003::c", subject = Some("subj-2"))
    assert(streamReadModel(Seq(Seq(put, other), Seq(del)), "rm_tomb") ===
      Map("subj-2" -> other.id))
  }

  test("dropDuplicatesWithinWatermark drops a redelivered batch (README.md:113-114)") {
    val rows = (1L to 100L).map(i =>
      StreamOps.Ev(i, 1700000000000000L + i * 1000000L, i % 10, "click", 1.0))
    val ms = MemoryStream[StreamOps.Ev](spark)
    val dedup = ms.toDF()
      .withColumn("ets", timestamp_micros(col("ts_us")))
      .withWatermark("ets", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = dedup.writeStream.format("memory").queryName("dedup_parity")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(rows); q.processAllAvailable()
      ms.addData(rows.takeRight(40)); q.processAllAvailable() // redelivery
    } finally q.stop()
    assert(spark.table("dedup_parity").count() === 100)
  }

  test("watermark finalizes only windows behind max event time - delay") {
    val base = 1700000000000000L // µs
    val hour = 3600000000L
    // events in 3 consecutive hours; watermark 10 min past the last event
    val rows = Seq(0, 1, 2).flatMap(h =>
      (1 to 5).map(i => StreamOps.Ev(h * 10 + i, base + h * hour + i * 60000000L, 1, "e", 1.0)))
    val ms = MemoryStream[StreamOps.Ev](spark)
    val agg = ms.toDF()
      .withColumn("ets", timestamp_micros(col("ts_us")))
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_us"), col("n"))
    val out = StreamOps.runToMemory(spark, agg, "wm_test", OutputMode.Append) { q =>
      ms.addData(rows)
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // windows for hours 0 and 1 closed (end <= max - 10min); hour 2 open
    val h0 = base - base % hour
    assert(out === Map(h0 -> 5L, (h0 + hour) -> 5L))
  }

  test("stream-stream interval join ≡ batch interval join, with cross-batch pairs") {
    val out = StreamOps.queries("stream_join_interval")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("c_id"))).toSet
    val ev = graft.io.Tables.events(spark, TestSpark.sfDir)
      .filter(col("event_id") < StreamOps.ReplayBound)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"), col("ts_us").as("c_us"))
    val expected = p.join(c, "user_id")
      .filter(col("c_us") >= col("p_us") - 3600000000L && col("c_us") <= col("p_us"))
      .collect().map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("c_id"))).toSet
    assert(out === expected, "stream-stream join must land the exact batch pair set")
    assert(out.nonEmpty)
  }

  test("stream-stream join state carries across micro-batches (planted)") {
    import spark.implicits._
    val base = 1700000000000000L
    val min = 60000000L
    val ms = MemoryStream[StreamOps.Ev](spark)
    // the SHIPPED topology (StreamOps.intervalJoinStreams), not a copy
    val joined = StreamOps.intervalJoinStreams(ms.toDF(), outer = false)
      .select(col("p_id"), col("c_id"))
    val out = StreamOps.runToMemory(spark, joined, "sjoin_planted", OutputMode.Append) { q =>
      // batch 1: two clicks — one joinable (30 min before the purchase),
      // one outside the 1h window (2h before)
      ms.addData(Seq(
        StreamOps.Ev(1, base - 120 * min, 7, "click", 1.0),
        StreamOps.Ev(2, base - 30 * min, 7, "click", 1.0)))
      q.processAllAvailable()
      // batch 2: the purchase arrives a micro-batch later — the matching
      // click must still be in join state
      ms.addData(Seq(StreamOps.Ev(3, base, 7, "purchase", 1.0)))
    }.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((3L, 2L)),
      "cross-batch pair must join; out-of-window click must not")
  }

  test("streaming last-touch attribution ≡ batch attribution (full fixture)") {
    // sf0.001 is inside ReplayBound, so the streaming fixture and the
    // batch operator see identical rows — totals must match exactly
    val streaming = StreamOps.queries("stream_attribution_tws")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("attribution_touch")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    assert(streaming == batch,
      "cross-batch ValueState replay must equal the batch window replay")
    assert(streaming.nonEmpty)
  }

  test("touch state carries across micro-batches (planted)") {
    import spark.implicits._
    val base = 1700000000000000L
    val min = 60000000L
    val oldProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[StreamOps.Ev](spark)
      val credits = ms.toDS().groupByKey(_.user_id)
        .transformWithState(new StreamOps.LastTouchProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val out = StreamOps.runToMemory(spark, credits.toDF(),
          "attr_planted", OutputMode.Append) { q =>
        // batch 1: a view then a click (click is latest), one purchase
        // BEFORE any touch → 'none'
        ms.addData(Seq(
          StreamOps.Ev(1, base - 50 * min, 7, "purchase", 2.0),
          StreamOps.Ev(2, base - 40 * min, 7, "view", 1.0),
          StreamOps.Ev(3, base - 30 * min, 7, "click", 1.0)))
        q.processAllAvailable()
        // batch 2: purchase with NO touch in its own batch — must credit
        // the click carried in ValueState from batch 1
        ms.addData(Seq(StreamOps.Ev(4, base, 7, "purchase", 3.0)))
      }.collect().map(r => (r.getLong(1), r.getString(2))).toMap
      assert(out === Map(1L -> "none", 4L -> "click"),
        "batch-2 purchase must credit the batch-1 click via carried state")
    } finally
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", oldProvider)
  }

  test("streaming quantile sketch ≡ batch quantile_hist (full fixture)") {
    // sf0.001 is inside ReplayBound: the streaming state's final
    // histogram must land the batch operator's exact quantile estimates
    val streaming = StreamOps.queries("stream_quantile_hist")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("quantile_hist")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    assert(streaming == batch,
      "cross-batch cell accumulation must equal the batch histogram")
    assert(streaming.nonEmpty)
  }

  test("transformWithState read model ≡ flatMapGroupsWithState read model") {
    val a = StreamOps.queries("stream_readmodel_state")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    val b = StreamOps.queries("stream_readmodel_tws")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    assert(a == b, "the two stateful APIs must land the identical read model")
    assert(a.nonEmpty)
  }

  test("outer stream-stream join emits null-match only after the watermark closes it") {
    import spark.implicits._
    val base = 1700000000000000L
    val min = 60000000L
    val ms = MemoryStream[StreamOps.Ev](spark)
    // the SHIPPED topology (StreamOps.intervalJoinStreams), not a copy
    val joined = StreamOps.intervalJoinStreams(ms.toDF(), outer = true)
      .select(col("p_id"), col("c_id"))
    val out = StreamOps.runToMemory(spark, joined, "sjoin_outer_planted",
        OutputMode.Append) { q =>
      // batch 1: an unmatched purchase (user 8) and a matched one (user 9)
      ms.addData(Seq(
        StreamOps.Ev(1, base, 8, "purchase", 1.0),
        StreamOps.Ev(2, base - 10 * min, 9, "click", 1.0),
        StreamOps.Ev(3, base, 9, "purchase", 1.0)))
      q.processAllAvailable()
      // batch 2: advance BOTH branches' event time far past base + 30min —
      // the watermark closes purchase 1's window, its outer row emits
      ms.addData(Seq(
        StreamOps.Ev(4, base + 120 * min, 8, "click", 1.0),
        StreamOps.Ev(5, base + 120 * min, 8, "purchase", 1.0)))
    }.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // purchase 3 matched click 2; purchase 1 emitted unmatched after the
    // watermark passed; purchase 5 (and its same-timestamp click 4, which
    // IS in-window) joined; nothing for the tail remains closed un-emitted
    assert(out.contains((3L, 2L)) && out.contains((1L, -1L)) && out.contains((5L, 4L)),
      s"unexpected outer-join output: $out")
    assert(!out.contains((1L, 4L)), "late click must not match a closed purchase")
  }

  test("session_window state store ≡ timer-driven session eviction (full fixtures)") {
    val a = StreamOps.queries("stream_session_state")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    val b = StreamOps.queries("stream_session_timers")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    assert(a == b, "native session windows and timer eviction must agree")
    assert(a.nonEmpty)
  }

  test("a session spanning the batch split merges across batches; open tail stays in state (planted)") {
    import spark.implicits._
    val base = 1700000000000000L
    val min = 60000000L
    val ms = MemoryStream[StreamOps.Ev](spark)
    val agg = ms.toDF()
      .withColumn("ets", timestamp_millis(expr("ts_us div 1000")))
      .withWatermark("ets", "10 minutes")
      .groupBy(session_window(col("ets"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("start_us"),
        col("n"))
    val out = StreamOps.runToMemory(spark, agg, "session_planted",
        OutputMode.Append) { q =>
      ms.addData(Seq(
        StreamOps.Ev(1, base, 7, "click", 1.0),
        StreamOps.Ev(2, base + 10 * min, 7, "click", 1.0)))
      q.processAllAvailable()
      // batch 2 extends the batch-1 session (20min < 30min gap), then a
      // far event closes it via the watermark and itself stays open
      ms.addData(Seq(
        StreamOps.Ev(3, base + 20 * min, 7, "click", 1.0),
        StreamOps.Ev(4, base + 600 * min, 7, "click", 1.0)))
    }.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((7L, base, 3L)),
      s"expected one merged 3-event session, still-open tail unemitted: $out")
  }

  test("state with a processing-time TTL is evicted between arrivals") {
    import spark.implicits._
    // A ProcessingTime-mode query self-triggers timer micro-batches
    // continuously, so processAllAvailable/AvailableNow never settle —
    // poll the foreachBatch output queue instead and stop the query
    // explicitly once both emissions landed.
    val ms = MemoryStream[StreamOps.Ev](spark)
    val counted = ms.toDS()
      .groupByKey(_.user_id)
      .transformWithState(new TtlCountProcessor(ttlMs = 100),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
    val ckpt = QueryHygiene.scratchDir("graft_ttl_ckpt", inMemory = false)
    val old = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def await(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000
      while (got.size < n && System.nanoTime() < deadline) Thread.sleep(50)
      assert(got.size >= n, s"timed out waiting for $n emissions: $got")
    }
    val q = counted.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => got.add((r.getLong(0), r.getLong(1)))))
      .start()
    try {
      ms.addData(StreamOps.Ev(1, 1000000L, 5, "click", 1.0))
      await(1)
      Thread.sleep(500) // let the 100ms TTL lapse in wall-clock time
      ms.addData(StreamOps.Ev(2, 2000000L, 5, "click", 1.0))
      await(2)
      // without TTL the second arrival would read the prior count and
      // emit (5, 2); expired state must reset to a fresh count
      assert(got.toArray(Array.empty[(Long, Long)]).toSeq == Seq((5L, 1L), (5L, 1L)),
        s"TTL-expired state leaked into the second arrival: $got")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
      QueryHygiene.deleteScratch(ckpt)
    }
  }

  test("feed sink upsert across batches ≡ batch compaction (stream_feed_sink)") {
    // the full operator runs inside the query function; parity vs the batch
    // read model at sf0.001
    val sinkOut = StreamOps.queries("stream_feed_sink")(spark, TestSpark.sfDir)
      .collect().map(r => r.getAs[Long]("subject") -> r.getAs[Long]("event_id")).toMap
    val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
    val expected = graft.io.Tables.events(spark, TestSpark.sfDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("event_type") =!= "error")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
    assert(sinkOut === expected)
  }

  test("streaming top-k state across batches ≡ batch aggregate rank (stream_topk_state)") {
    val got = StreamOps.queries("stream_topk_state")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val w = Window.partitionBy("event_type").orderBy(col("n").desc, col("user_id"))
    val want = graft.io.Tables.events(spark, TestSpark.sfDir)
      .filter(col("event_id") < StreamOps.ReplayBound)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 10000).cast("long")).as("v"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("event_type", "rk", "user_id", "n", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.sortBy(t => (t._1, t._2)).sameElements(want.sortBy(t => (t._1, t._2))))
  }

  test("stateful aggregation RESUMES from its checkpoint across a query restart") {
    import org.apache.spark.sql.streaming.Trigger
    val rows = graft.io.Tables.events(spark, TestSpark.sfDir)
      .filter(col("event_id") < StreamOps.ReplayBound)
      .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
      .as[StreamOps.Ev].collect().sortBy(_.event_id)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val ms = MemoryStream[StreamOps.Ev](spark)
    val counts = ms.toDF().groupBy("event_type").agg(count(lit(1)).as("n"))
    val ckpt = QueryHygiene.scratchDir("graft_restart_ckpt", inMemory = false)
    // foreachBatch is the RECOVERABLE sink (the memory sink refuses
    // checkpoint recovery by design)
    def start(buf: java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]) =
      counts.writeStream.foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => buf.add((r.getString(0), r.getLong(1))))
        ()
      }.option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update).trigger(Trigger.AvailableNow()).start()
    // run 1: first half, then STOP the query entirely
    val buf1 = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q1 = start(buf1)
    ms.addData(b1.toSeq)
    q1.awaitTermination()
    // run 2: a NEW query restarted from the SAME checkpoint — the
    // aggregation state must be restored, so batch-2 emissions carry
    // the batch-1 counts
    val buf2 = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q2 = start(buf2)
    ms.addData(b2.toSeq)
    q2.awaitTermination()
    import scala.jdk.CollectionConverters._
    val resumed = buf2.asScala.toSeq.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    val full = rows.groupBy(_.event_type).view.mapValues(_.length.toLong).toMap
    // every type updated in run 2 must show the FULL cumulative count
    assert(resumed.nonEmpty)
    resumed.foreach { case (tpe, n) =>
      assert(n == full(tpe), s"$tpe resumed count lost checkpointed state")
    }
    // scratch cleanup (memory sink holds the rows; the checkpoint is done)
    QueryHygiene.deleteScratch(ckpt)
  }

  // ── Numeric state-size bounds ───────────────────────────────────────
  // The behavioral tests above prove WHAT is evicted; these prove the
  // store SIZE is bounded: stateOperators.numRowsTotal must track the
  // live keys / watermark window, never the history — the silent 100 TB
  // streaming failure mode (eviction stops working, state grows without
  // bound, executors OOM weeks later).

  /** State rows reported by the most recent progress entry carrying
    * state-operator metrics (the trailing batch reflects post-eviction
    * store size). */
  private def finalStateRows(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty =>
        p.stateOperators.map(_.numRowsTotal).sum
    }.getOrElse(sys.error("no stateful progress recorded"))

  private def totalDroppedByWatermark(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum

  /** Run `body` with the given state-store provider class set for the
    * duration — the four provider-agnostic numeric tests below register
    * once per provider, so the off-heap RocksDB path (the one that
    * matters at 100 TB) carries the same numeric bounds as the default
    * HDFS-backed store. (The two transformWithState tests stay
    * RocksDB-only: TWS requires the RocksDB provider.) */
  private def withProvider(providerClass: String)(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.get(key,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set(key, providerClass)
    try body finally spark.conf.set(key, old)
  }

  private val stateProviders = Seq(
    "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  for ((pname, pclass) <- stateProviders)
  test(s"dedup state size tracks the watermark window, not the ids seen (numeric, $pname)") {
  withProvider(pclass) {
    val base = 1700000000000000L
    val ms = MemoryStream[StreamOps.Ev](spark)
    val dedup = ms.toDF()
      .withColumn("ets", timestamp_micros(col("ts_us")))
      .withWatermark("ets", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = dedup.writeStream.format("memory")
      .queryName(s"state_rows_dedup_$pname")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData((1L to 500L).map(i =>
        StreamOps.Ev(i, base + i * 1000, i % 7, "click", 1.0)))
      q.processAllAvailable()
      assert(finalStateRows(q) >= 500,
        "all 500 ids must be in state while inside the watermark")
      // advance event time 10 hours — the watermark passes every held id —
      // then one more batch so the reported store size is post-eviction
      ms.addData(Seq(StreamOps.Ev(1000, base + 36000000000L, 1, "click", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(StreamOps.Ev(1001, base + 36060000000L, 1, "click", 1.0)))
      q.processAllAvailable()
      val after = finalStateRows(q)
      assert(after <= 2,
        s"watermark eviction must remove the 500 expired ids; state=$after")
    } finally q.stop()
  }}

  for ((pname, pclass) <- stateProviders)
  test(s"interval-join state is evicted once the watermark passes the window (numeric, $pname)") {
  withProvider(pclass) {
    val base = 1700000000000000L
    val min = 60000000L
    val ms = MemoryStream[StreamOps.Ev](spark)
    // the SHIPPED topology (stream_join_interval / stream_join_outer)
    val joined = StreamOps.intervalJoinStreams(ms.toDF(), outer = false)
      .select(col("p_id"), col("c_id"))
    val q = joined.writeStream.format("memory")
      .queryName(s"state_rows_join_$pname")
      .outputMode(OutputMode.Append).start()
    try {
      // 300 clicks + 1 matching purchase in one batch
      ms.addData((1L to 300L).map(i =>
        StreamOps.Ev(i, base + i * 1000, i, "click", 1.0)) :+
        StreamOps.Ev(400, base + 10 * min, 1, "purchase", 1.0))
      q.processAllAvailable()
      assert(finalStateRows(q) >= 300,
        "both join sides buffer while inside the watermark")
      // both branches jump 20 h ahead (the global watermark is the min
      // across streams), then one more batch reports post-eviction size
      ms.addData(Seq(
        StreamOps.Ev(500, base + 1200 * min, 7, "click", 1.0),
        StreamOps.Ev(501, base + 1200 * min, 7, "purchase", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(
        StreamOps.Ev(502, base + 1201 * min, 8, "click", 1.0),
        StreamOps.Ev(503, base + 1201 * min, 8, "purchase", 1.0)))
      q.processAllAvailable()
      val after = finalStateRows(q)
      assert(after <= 8,
        s"join state must hold only rows inside the watermark; state=$after")
    } finally q.stop()
  }}

  for ((pname, pclass) <- stateProviders)
  test(s"unwatermarked aggregation state equals live keys, not events (numeric, $pname)") {
  withProvider(pclass) {
    val base = 1700000000000000L
    val ms = MemoryStream[StreamOps.Ev](spark)
    // the stream_topk_state / stream_cdc_apply aggregation shape
    val counts = ms.toDF().groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("c"))
    val q = counts.writeStream.format("memory")
      .queryName(s"state_rows_agg_$pname")
      .outputMode(OutputMode.Update).start()
    try {
      // 1200 events over exactly 8 (type, user) keys, two batches
      ms.addData((1L to 600L).map(i =>
        StreamOps.Ev(i, base + i, i % 4, if (i % 3 == 0) "click" else "view", 1.0)))
      q.processAllAvailable()
      ms.addData((601L to 1200L).map(i =>
        StreamOps.Ev(i, base + i, i % 4, if (i % 3 == 0) "click" else "view", 1.0)))
      q.processAllAvailable()
      assert(finalStateRows(q) === 8,
        "aggregation state must be one row per live (type, user) key")
      // 4 users × 2 types = 8 live keys; 1200 events must NOT inflate it
    } finally q.stop()
  }}

  for ((pname, pclass) <- stateProviders)
  test(s"late-data flood is dropped by the watermark and does NOT grow state (numeric, $pname)") {
  withProvider(pclass) {
    val base = 1700000000000000L
    val hour = 3600000000L
    val ms = MemoryStream[StreamOps.Ev](spark)
    val agg = ms.toDF()
      .withColumn("ets", timestamp_micros(col("ts_us")))
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), "1 hour")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory")
      .queryName(s"state_rows_flood_$pname")
      .outputMode(OutputMode.Append).start()
    try {
      // establish a watermark 100 hours in: 3 open-or-closed windows
      ms.addData(Seq(0, 1, 100).map(h =>
        StreamOps.Ev(h, base + h * hour, 1, "click", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(StreamOps.Ev(200, base + 100 * hour + 60000000L, 1, "click", 1.0)))
      q.processAllAvailable()
      val before = finalStateRows(q)
      // flood: 1000 rows spread over 90 distinct hour windows, all DAYS
      // behind the watermark (the partial map-side combine folds each
      // window's rows into one group row before the state operator, so
      // the dropped metric counts late GROUPS — hence distinct windows)
      ms.addData((1L to 1000L).map(i =>
        StreamOps.Ev(10000 + i, base + (i % 90) * hour + i, 1, "click", 1.0)))
      q.processAllAvailable()
      val after = finalStateRows(q)
      assert(totalDroppedByWatermark(q) >= 90,
        "every flooded late window must be counted dropped-by-watermark")
      assert(after <= before,
        s"dropped late volume must not grow state: $before -> $after")
    } finally q.stop()
  }}

  test("session-timer ListState is evicted as the watermark closes sessions (numeric)") {
    val base = 1700000000000000L
    val min = 60000000L
    val oldProvider = spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val ms = MemoryStream[StreamOps.Ev](spark)
      // the SHIPPED stream_session_timers topology
      val src = ms.toDF()
        .withColumn("ets", timestamp_millis(expr("ts_us div 1000")))
        .withWatermark("ets", "10 minutes")
        .select(col("user_id"), col("ts_us")).as[(Long, Long)]
      val out = src.groupByKey(_._1)
        .transformWithState(new StreamOps.SessionTimerProcessor(30L * 60 * 1000000),
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
      val q = out.toDF().writeStream.format("memory")
        .queryName("state_rows_sess").outputMode(OutputMode.Append).start()
      try {
        // 50 users open one session each
        ms.addData((1L to 50L).map(u =>
          StreamOps.Ev(u, base + u * 1000, u, "click", 1.0)))
        q.processAllAvailable()
        val open = finalStateRows(q)
        assert(open >= 50, s"50 open sessions must be in state, saw $open")
        // watermark jumps 10 h: every timer fires, sessions emit + evict;
        // one more batch reports the post-eviction store
        ms.addData(Seq(StreamOps.Ev(900, base + 600 * min, 900, "click", 1.0)))
        q.processAllAvailable()
        ms.addData(Seq(StreamOps.Ev(901, base + 601 * min, 900, "click", 1.0)))
        q.processAllAvailable()
        val after = finalStateRows(q)
        assert(after <= 6,
          s"closed sessions must leave the store (user 900's open tail may remain): $after")
        assert(spark.table("state_rows_sess").count() >= 50,
          "the 50 closed sessions must have been emitted")
      } finally q.stop()
    } finally
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", oldProvider)
  }

  test("transformWithState per-key state equals live keys across batches (numeric)") {
    val base = 1700000000000000L
    val min = 60000000L
    val oldProvider = spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[StreamOps.Ev](spark)
      // the SHIPPED stream_attribution_tws processor: one Touch row/user
      val credits = ms.toDS().groupByKey(_.user_id)
        .transformWithState(new StreamOps.LastTouchProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val q = credits.toDF().writeStream.format("memory")
        .queryName("state_rows_tws").outputMode(OutputMode.Append).start()
      try {
        // 900 touches over 9 users, three batches
        (0 until 3).foreach { b =>
          ms.addData((1L to 300L).map(i =>
            StreamOps.Ev(b * 1000 + i, base + (b * 300 + i) * min, i % 9,
              "click", 1.0)))
          q.processAllAvailable()
        }
        assert(finalStateRows(q) === 9,
          "ValueState must hold exactly one row per live user key")
      } finally q.stop()
    } finally
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", oldProvider)
  }

  test("a fan-out built while a stream fixture feeds sees the session width") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ms = MemoryStream[StreamOps.Ev](spark)
    val agg = ms.toDF().groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    var fanned = -1
    var stateWidth = -1
    val out = StreamOps.runToMemory(spark, agg, "fanout_during_feed",
        OutputMode.Complete) { q =>
      ms.addData((1L to 100L).map(i => StreamOps.Ev(i, i * 1000, i % 5, "e", 1.0)))
      q.processAllAvailable()
      fanned = graft.io.Tables.fanOut(spark.range(0, 200000, 1, 1).toDF("id"))
        .rdd.getNumPartitions
      stateWidth = q.lastProgress.stateOperators(0).numShufflePartitions.toInt
    }
    assert(fanned === width, "a batch plan built during feed must fan out to the session width")
    assert(stateWidth === 1, "the fixture itself must still run at width 1")
    assert(out.count() === 5)
  }

  test("withConf restores a set key, unsets an unset key, also when the body throws") {
    import graft.api.QueryHygiene.withConf
    val setKey = "spark.graft.test.setKey"
    val unsetKey = "spark.graft.test.unsetKey"
    spark.conf.set(setKey, "before")
    try {
      withConf(spark, setKey -> "inside", unsetKey -> "inside") {
        assert(spark.conf.get(setKey) === "inside")
        assert(spark.conf.get(unsetKey) === "inside")
      }
      assert(spark.conf.get(setKey) === "before")
      assert(!spark.conf.getAll.contains(unsetKey))
      intercept[IllegalStateException] {
        withConf(spark, setKey -> "inside", unsetKey -> "inside") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(setKey) === "before")
      assert(!spark.conf.getAll.contains(unsetKey))
    } finally spark.conf.unset(setKey)
  }
}
