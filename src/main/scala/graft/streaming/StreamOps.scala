package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, TimeMode, Trigger}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.connector.{HttpFeedClient, TestFeedServer}
import graft.api.QueryHygiene
import graft.api.QueryHygiene.withConf
import graft.io.Tables
import graft.model.CloudEvent

/** §2.7 true-streaming operators (SURVEY.md): the spec's subscription model
  * executed on Structured Streaming proper — watermark finalization,
  * cross-batch keyed state, tombstone removal, and a feed sink. Each query
  * runs a REAL streaming query (MemoryStream source feeding 1–2
  * micro-batches, memory/foreachBatch sink) whose final output is
  * deterministic, so the driver's DuckDB oracle checks it like any batch
  * operator; multi-batch prefix-split parity is additionally covered in
  * ScalaTest (SURVEY §5.4–5.5).
  *
  * Scale notes: all state is keyed (window/event-id/subject) and maintained
  * by Spark's state store — per-executor, hash-partitioned on the key, with
  * watermark-driven eviction where applicable, which is exactly the shape
  * that scales to a 1000-executor cluster; the MemoryStream fixtures here
  * are only the test harness around those operators.
  */
object StreamOps {

  /** Plain event row for memory-stream fixtures. */
  case class Ev(event_id: Long, ts_us: Long, user_id: Long, event_type: String, value: Double)

  /** Plain document row for the streaming-admission fixture. */
  case class Doc(doc_id: Long, lang: String, text: String)

  /** Merged-interval state for `stream_interval_union_state`: parallel
    * sorted start/end arrays (disjoint islands) + events-seen counter. */
  case class IvState(starts: Seq[Long], ends: Seq[Long], n: Long)
  case class IvOut(user_id: Long, n_islands: Long, covered_us: Long, n_seen: Long)

  /** Read-model state output row (envelope projection). */
  case class StateOut(subject: Long, id: String, event_type: String, method: String)

  /** SCD2 opened-version emission (streaming dimension history). */
  case class Scd2Open(user_id: Long, event_id: Long, state: String,
                      valid_from_us: Long)

  /** KMV sketch emission: per-type estimate from the k-minima state. */
  case class KmvOut(event_type: String, n_state: Long, est_c: Long)

  /** Incremental TWAP state per event type: the held (last) reading and
    * the exact integer interval accumulators. */
  case class TwapState(lastTs: Long, lastV: Long, accW: Long,
                       accSpan: Long, accV: Long, n: Long)

  /** Per-batch TWAP emission (running totals; final = max-n row). */
  case class TwapOut(event_type: String, n_intervals: Long, span_us: Long,
                     wsum: Long, vsum: Long)

  /** Per-user funnel progression state (-1 = stage not reached). */
  case class FunnelSt(user_id: Long, t0: Long, t1: Long, t2: Long)

  /** The read-model state transition shared by EVERY stateful surface
    * (flatMapGroupsWithState, the transformWithState processor, and the
    * test suite's reference implementation — one definition, so the
    * semantics cannot drift between them): the latest envelope by id
    * order among prior state and arrivals; returns it with
    * `keepState = false` when it is a DELETE tombstone
    * (reference README.md:184-188, :290). */
  def latestTransition(prior: Option[CloudEvent],
                       rows: Iterator[CloudEvent]): (CloudEvent, Boolean) = {
    val latest = (prior.iterator ++ rows)
      .reduceLeft((a, b) => if (b.id > a.id) b else a)
    (latest, !latest.method.contains(CloudEvent.DELETE))
  }

  /** Reduce Update-mode per-batch emissions to the final live read model:
    * last emission per subject (max id), tombstoned subjects out. Shared
    * by both read-model fixtures and the suite's reference path. */
  def finalReadModel(emitted: DataFrame): DataFrame = {
    val w = Window.partitionBy("subject").orderBy(col("id").desc)
    emitted.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("method") =!= CloudEvent.DELETE)
  }

  /** The purchases ⋈ preceding-hour-clicks stream-stream topology shared
    * by the inner and outer fixtures AND their planted StreamingSuite
    * tests (one definition — the tests exercise what ships): both
    * branches watermarked 30 minutes, two-sided time-range condition. */
  def intervalJoinStreams(events: DataFrame, outer: Boolean): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        timestamp_micros(col("ts_us")).as("c_ets"), col("ts_us").as("c_us"))
      .withWatermark("c_ets", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        timestamp_micros(col("ts_us")).as("p_ets"), col("ts_us").as("p_us"))
      .withWatermark("p_ets", "30 minutes")
    val cond = col("user_id") === col("c_user") &&
      col("c_ets") >= col("p_ets") - expr("interval 1 hour") &&
      col("c_ets") <= col("p_ets")
    if (outer)
      purchases.join(clicks, cond, "left_outer")
        .select(col("p_id"), coalesce(col("c_id"), lit(-1L)).as("c_id"),
          col("user_id"), col("p_us"))
    else
      purchases.join(clicks, cond)
        .select(col("p_id"), col("c_id"), col("user_id"), col("p_us"), col("c_us"))
  }

  /** transformWithState processor for the aggregate read model: a
    * ValueState[CloudEvent] per subject holds the latest envelope by id
    * order; a DELETE tombstone clears it (reference README.md:184-188,
    * :290). The modern twin of the flatMapGroupsWithState update fn in
    * stream_readmodel_state — arbitrary named state over the RocksDB
    * provider, with TTL and timers available when retention policies
    * need them. */
  class LatestStateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, CloudEvent, StateOut] {
    @transient private var latest: org.apache.spark.sql.streaming.ValueState[CloudEvent] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      latest = getHandle.getValueState[CloudEvent]("latest",
        org.apache.spark.sql.Encoders.product[CloudEvent],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[CloudEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[StateOut] = {
      val prior = if (latest.exists()) Some(latest.get()) else None
      val (cur, keep) = latestTransition(prior, rows)
      if (keep) latest.update(cur) else latest.clear()
      Iterator.single(StateOut(key.toLong, cur.id, cur.`type`,
        cur.method.getOrElse(CloudEvent.PUT)))
    }
  }

  /** Last marketing touch carried per user across micro-batches. */
  /** stream_delete_latency_state: per-subject tombstone-lag tracking. */
  case class DelState(lastPut: Long, done: Boolean)
  case class DelOut(user_id: Long, terr: Long, tput: Option[Long])

  case class Touch(channel: String, ts_us: Long, event_id: Long)

  /** A purchase credited to its most recent prior touch channel. */
  case class CreditOut(user_id: Long, event_id: Long, touch: String, vc: Long)

  /** Streaming last-touch attribution on transformWithState: a
    * ValueState[Touch] per user carries the latest click/view across
    * micro-batches; each batch's rows are processed in event-time order
    * (the per-key iterator has no order contract, so the handler sorts
    * its batch — bounded by the per-user-per-batch row count) and every
    * purchase is credited to the touch standing at its timestamp. The
    * batch twin is `attribution_touch`; the state here is ONE tiny row
    * per user (not a window over history), the shape that holds at
    * 100 TB. */
  class LastTouchProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, CreditOut] {
    @transient private var touch: org.apache.spark.sql.streaming.ValueState[Touch] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      touch = getHandle.getValueState[Touch]("touch",
        org.apache.spark.sql.Encoders.product[Touch],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[CreditOut] = {
      var cur = if (touch.exists()) Option(touch.get()) else None
      val out = Seq.newBuilder[CreditOut]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (e.event_type == "purchase")
          out += CreditOut(key, e.event_id, cur.map(_.channel).getOrElse("none"),
            math.floor(e.value * 10000).toLong)
        if (e.event_type == "click" || e.event_type == "view")
          cur = Some(Touch(e.event_type, e.ts_us, e.event_id))
      }
      cur.foreach(touch.update)
      out.result().iterator
    }
  }

  /** A user's open session interval: [start_us, end_us) with end =
    * last event + gap, and the event count. */
  case class Sess(start_us: Long, end_us: Long, n: Long)

  /** Emitted closed session. */
  case class SessOut(user_id: Long, start_us: Long, end_us: Long, n: Long)

  /** Session windows implemented by hand on transformWithState with
    * event-time TIMERS: per-user ListState of open session intervals,
    * merged by interval sweep on every batch (merge rule `start <
    * prev.end` — an event exactly `gap` after the last starts a NEW
    * session, matching both session_window and the gaps-and-islands
    * oracle's `diff >= gap` break); a timer at each session end fires
    * once the watermark passes it, evicting and emitting the session.
    * This is the retention-expiry pattern: state removed by time, not by
    * input — exercised here with deterministic event-time timers (a
    * wall-clock TTLConfig does the same eviction but is inherently not
    * oracle-checkable; see StreamingSuite's TTL test). */
  class SessionTimerProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), SessOut] {
    @transient private var sessions: org.apache.spark.sql.streaming.ListState[Sess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sessions = getHandle.getListState[Sess]("sessions",
        org.apache.spark.sql.Encoders.product[Sess],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessOut] = {
      // arrivals as ms-floored single-point intervals, merged with the
      // open sessions in one sorted sweep
      val pts = rows.map { case (_, tsUs) =>
        val t = (tsUs / 1000) * 1000
        Sess(t, t + gapUs, 1L)
      }.toArray
      val all = (sessions.get().toArray ++ pts).sortBy(s => (s.start_us, s.end_us))
      val merged = scala.collection.mutable.ArrayBuffer[Sess]()
      for (s <- all) {
        if (merged.nonEmpty && s.start_us < merged.last.end_us) {
          val p = merged.remove(merged.length - 1)
          merged += Sess(p.start_us, math.max(p.end_us, s.end_us), p.n + s.n)
        } else merged += s
      }
      sessions.put(merged.toArray)
      // one timer per open session end; duplicates across batches are
      // idempotent, stale ones (session extended) fire into a no-op
      merged.foreach(s => getHandle.registerTimer(s.end_us / 1000))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessOut] = {
      val expiryMs = info.getExpiryTimeInMs
      val (done, live) = sessions.get().toArray.partition(_.end_us / 1000 <= expiryMs)
      if (live.isEmpty) sessions.clear() else sessions.put(live)
      done.sortBy(_.start_us).iterator
        .map(s => SessOut(key, s.start_us, s.end_us, s.n))
    }
  }

  private val nameCounter = new AtomicLong(0)
  private def freshName(prefix: String): String =
    s"${prefix}_${nameCounter.incrementAndGet()}"

  /** Bounded subscription-replay window for the MemoryStream fixtures:
    * the operators themselves are unbounded streams; the bound only keeps
    * the driver-side fixture collect proportionate at larger sf (covers
    * the whole feed at the sf0.01 correctness gate). Oracles carry the
    * same bound. */
  val ReplayBound = 20000L

  private def evRows(s: SparkSession, d: String): Dataset[Ev] = {
    import s.implicits._
    Tables.events(s, d)
      .filter(col("event_id") < ReplayBound)
      .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
  }

  /** The fixtures' 20k-row replay window, collected ONCE per (session,
    * dataset): ~10 fixtures re-scan + re-collect the identical rows
    * otherwise. Bounded by ReplayBound, so the cache is ~2 MB — fixture
    * plumbing, not the scale path (that is the DSv2 HTTP source). */
  private def evRowsCollected(s: SparkSession, d: String): Array[Ev] =
    QueryHygiene.memoized(s, "stream_replay_rows", d)(evRows(s, d).collect())

  /** Force the shared replay-window collect so a bench can bill it as an
    * explicit build line instead of whichever streaming fixture runs
    * first. */
  private[graft] def prebuildFixtures(s: SparkSession, d: String): Unit = {
    evRowsCollected(s, d); ()
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The RocksDB state-store provider (required by transformWithState),
    * with CHANGELOG checkpointing: each micro-batch commit uploads the
    * delta instead of a full SST snapshot — the production setting for
    * frequent small commits, and measurably cheaper here where a
    * 2-3-batch fixture otherwise pays a full snapshot per batch. Passed
    * to [[runToMemory]], which pins it only across the stream's start. */
  private val RocksDB = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Run a streaming DataFrame into an in-memory sink table and return the
    * table once its contents stabilize — the stabilization loop covers the
    * trailing no-data micro-batch that finalizes watermark-closed windows
    * after the last data batch. `feed` drives the source and may call
    * `processAllAvailable` between `addData` calls to force real
    * cross-micro-batch state transitions.
    *
    * The shuffle width (and `conf`) is pinned only across `start()`: the
    * query runs on a clone of the session taken there, so the pin holds
    * for the stream's whole life while batch queries built during `feed`
    * see the session's own width. Stateful shuffle width is fixed in the
    * query's offset log at start; it is sized to the fixture volume (a
    * state-store instance per partition is pure overhead at 20k rows). A
    * real deployment sizes spark.sql.shuffle.partitions to the cluster
    * before starting the stream.
    */
  def runToMemory(s: SparkSession, df: DataFrame, name: String,
                  mode: OutputMode, conf: (String, String)*)(
                  feed: StreamingQuery => Unit): DataFrame = {
    val ckpt = QueryHygiene.scratchDir(s"graft_${name}_ckpt", inMemory = true)
    val q = withConf(s, (ShufflePartitions -> "1") +: conf: _*) {
      df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(mode).start()
    }
    // Stability probe: the sink's row count, read directly off the
    // driver-resident MemorySink (allData.size == the memory table's
    // count in every output mode — Append/Update append per batch,
    // Complete truncates to the latest batch, and the table serves
    // exactly those rows). The previous s.table(name).count() compiled
    // and ran a fresh aggregate QUERY per probe — 100-150 ms each, paid
    // 2-3× per fixture by the stabilization loop for a number the
    // driver already holds. Falls back to the table count if the sink
    // isn't the expected shape.
    val sinkRows: () => Long = q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        w.streamingQuery.sink match {
          case m: org.apache.spark.sql.execution.streaming.sources.MemorySink =>
            () => m.allData.size.toLong
          case _ => () => s.table(name).count()
        }
      case _ => () => s.table(name).count()
    }
    try {
      feed(q)
      q.processAllAvailable()
      var prev = -1L
      var cur = sinkRows()
      var spins = 0
      while (cur != prev && spins < 200) {
        // first recheck without the pause: processAllAvailable has just
        // confirmed the stream idle, so in the common already-stable case
        // the extra paa+count pair is pure confirmation; the 50 ms pause
        // only matters once an actually-trailing batch was observed.
        // DEPENDENCY: the pause-free first recheck assumes
        // processAllAvailable blocks until watermark-required no-data
        // batches ran (spark.sql.streaming.noDataMicroBatches.enabled,
        // default true — never overridden here). If that conf were off,
        // the loop could observe one count-equal round before the
        // finalizing batch and exit with watermark-closed windows unsent.
        prev = cur; if (spins > 0) Thread.sleep(50)
        q.processAllAvailable()
        cur = sinkRows(); spins += 1
      }
    } finally {
      q.stop()
      QueryHygiene.deleteScratch(ckpt) // memory sink holds the rows; checkpoint is done
    }
    s.table(name)
  }

  /** Warm the streaming machinery (micro-batch planner, state store,
    * memory sink) with a minimal query so the first REAL streaming
    * operator in a session doesn't absorb the one-time startup cost. */
  def warmup(s: SparkSession): Unit = {
    import s.implicits._
    try {
      val ms = MemoryStream[Ev](s)
      val dedup = ms.toDF()
        .withColumn("ets", timestamp_micros(col("ts_us")))
        .withWatermark("ets", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
      runToMemory(s, dedup, freshName("warmup"), OutputMode.Append) { _ =>
        ms.addData(Ev(1L, 1000000L, 1L, "t", 1.0))
      }
    } catch { case e: Throwable => System.err.println(s"WARMUP_FAIL stream: $e") }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Event-time watermark (README.md:113 — at-least-once implies
    // out-of-order arrival): 10-minute watermark over 1h tumbling windows,
    // APPEND mode — only windows whose end fell behind the final watermark
    // (max event time − 10 min) are emitted; the tail stays in state.
    "stream_watermark_late" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d)
      val ms = MemoryStream[Ev](s)
      val agg = ms.toDF()
        .withColumn("ets", timestamp_micros(col("ts_us")))
        .withWatermark("ets", "10 minutes")
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("win_us"), col("event_type"), col("n"))
      runToMemory(s, agg, freshName("wm_late"), OutputMode.Append) { _ =>
        ms.addData(rows.toSeq)
      }.orderBy("win_us", "event_type")
    }),

    // TRUE-streaming session windows (the batch twin is
    // stream_session_30m): 30-min-gap sessions per user over MemoryStream
    // micro-batches with a 10-minute watermark, APPEND mode — a session
    // is emitted only once the final watermark (max event time − 10 min)
    // passes its end; later sessions stay in state. Fed as two batches
    // split at the median TIMESTAMP, so sessions spanning the split are
    // merged ACROSS batches by the session-window state store (the merge
    // is the thing batch mode can't exercise). No batch-2 event can
    // reopen an emitted session: an emitted session ended ≥ 40 min
    // before any batch-2 timestamp (10-min watermark + 30-min gap), so
    // the final emitted set is exactly the gaps-and-islands sessions
    // closed under the final watermark — the oracle's cutoff. Event
    // times are floored to whole MILLISECONDS first (the spec serializes
    // time as ISO-8601, ms precision — reference README.md:312): Spark's
    // watermark is ms-granular, so µs-fraction event times would make
    // the emit-or-hold boundary engine-internal instead of
    // oracle-reproducible; the floor pins it exactly.
    "stream_session_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val agg = ms.toDF()
        .withColumn("ets", timestamp_millis(expr("ts_us div 1000")))
        .withWatermark("ets", "10 minutes")
        .groupBy(session_window(col("ets"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"), col("n"))
      runToMemory(s, agg, freshName("session_state"), OutputMode.Append) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: open sessions carry
        ms.addData(b2.toSeq)
      }.orderBy("user_id", "start_us")
    }),

    // The SAME session semantics implemented on transformWithState with
    // EVENT-TIME TIMERS (retention expiry done by hand): ListState holds
    // each user's open sessions as merged intervals; every batch merges
    // the arrivals in (interval-sweep — the same merge the session state
    // store does natively above) and registers a timer at each session
    // end; when the watermark passes a timer, the expired-timer callback
    // evicts the closed sessions from state and emits them. Stale timers
    // (a session got extended past its old end) fire and match nothing —
    // cheaper than delete-and-reregister churn on every arrival. One
    // oracle across three implementations (batch gaps-and-islands,
    // session_window state store, timer-driven eviction): the semantics
    // cannot drift.
    "stream_session_timers" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val src = ms.toDF()
        .withColumn("ets", timestamp_millis(expr("ts_us div 1000")))
        .withWatermark("ets", "10 minutes")
        .select(col("user_id"), col("ts_us")).as[(Long, Long)]
      val out = src.groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor(30L * 60 * 1000000),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(s, out.toDF(), freshName("session_timers"),
          OutputMode.Append, RocksDB: _*) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()        // batch boundary: open sessions carry
        ms.addData(b2.toSeq)
      }.orderBy("user_id", "start_us")
    }),

    // Cross-batch idempotency (README.md:113-114): dedup on id within the
    // watermark. Batch 1 delivers the feed; batch 2 redelivers the most
    // recent 5 minutes (at-least-once); state built in batch 1 drops every
    // redelivered row in batch 2 — output is exactly the distinct feed.
    "stream_dedup_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d)
      val maxTs = rows.iterator.map(_.ts_us).max
      val redelivered = rows.filter(_.ts_us > maxTs - 5L * 60 * 1000000)
      val ms = MemoryStream[Ev](s)
      val dedup = ms.toDF()
        .withColumn("ets", timestamp_micros(col("ts_us")))
        .withWatermark("ets", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
      runToMemory(s, dedup, freshName("dedup_state"), OutputMode.Append) { q =>
        ms.addData(rows.toSeq)
        q.processAllAvailable()          // batch boundary: state now holds ids
        ms.addData(redelivered.toSeq)    // at-least-once redelivery
      }.orderBy("event_id")
    }),

    // The SAME read model on Spark 4's transformWithState — the modern
    // stateful-processing API (arbitrary named state, timers, TTL) over
    // the RocksDB state store provider it requires. Semantics identical
    // to stream_readmodel_state (same oracle): ValueState[CloudEvent]
    // per subject, tombstone clears it. At 100 TB the RocksDB provider
    // is what bounds executor memory — state spills to local SST files
    // with changelog checkpointing instead of living on the JVM heap.
    "stream_readmodel_tws" -> ((s, d) => {
      import s.implicits._
      val ces = CloudEvent.fromEvents(
        Tables.events(s, d).filter(col("event_id") < ReplayBound)).collect()
      val sorted = ces.sortBy(_.id)
      val (b1, b2) = sorted.splitAt(sorted.length / 2)
      val ms = MemoryStream[CloudEvent](s)
      // NOTE: runToMemory sets the RocksDB provider on the shared
      // session only across start(); the query keeps it on the session
      // clone it runs on. A streaming query started on the same session
      // by another thread inside that window would pick RocksDB up too —
      // fine for the single-threaded fixture driver.
      val model = ms.toDS()
        .groupByKey(_.subject.getOrElse(""))
        .transformWithState(new LatestStateProcessor, TimeMode.None(),
          OutputMode.Update())
      val emitted = runToMemory(s, model.toDF(), freshName("readmodel_tws"),
          OutputMode.Update, RocksDB: _*) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()        // batch boundary: RocksDB state carries
        ms.addData(b2.toSeq)
      }
      finalReadModel(emitted)
        .select(col("subject"), col("id"), col("event_type"), col("method"))
        .orderBy("subject")
    }),

    // Streaming last-touch attribution (batch twin: attribution_touch):
    // ValueState[Touch] per user carries the latest click/view ACROSS
    // micro-batches; purchases are credited as they arrive. Fed as two
    // batches split at the median TIMESTAMP — every user's batch-2
    // events are later than their batch-1 events, so the cross-batch
    // carry is exactly the sequential replay the oracle computes. The
    // emitted credit stream is then reduced to per-channel totals.
    "stream_attribution_tws" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val credits = ms.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new LastTouchProcessor, TimeMode.None(),
          OutputMode.Append())
      val emitted = runToMemory(s, credits.toDF(),
          freshName("attribution_tws"), OutputMode.Append, RocksDB: _*) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()        // batch boundary: touch state carries
        ms.addData(b2.toSeq)
      }
      emitted.groupBy("touch")
        .agg(count(lit(1)).as("n_purchases"), sum("vc").as("sum_value_c"))
        .orderBy("touch")
    }),

    // Streaming quantile-sketch maintenance (batch twin: quantile_hist):
    // the 256-bucket histogram kept as STREAMING aggregation state —
    // |types|×256 cells total, updated per micro-batch, never the data.
    // Bucket EDGES are fixed before the stream starts (the mergeable-
    // sketch contract: partials only merge under global parameters; a
    // production stream fixes edges a priori or from a calibration
    // pass — here the bounded replay window provides them, and the
    // oracle recomputes the identical min/max over the same window).
    // Update-mode re-emits a cell whenever its count grows; counts are
    // monotone, so the final sketch is the per-cell MAX emission. The
    // quantile extraction is the same integer tail as quantile_hist.
    "stream_quantile_hist" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val edgeDf = rows.groupBy(_.event_type).toSeq.map { case (t, es) =>
        val vs = es.map(e => math.floor(e.value * 10000).toLong)
        (t, vs.min, vs.max)
      }.toDF("event_type", "mn", "mx")
      val ms = MemoryStream[Ev](s)
      val hist = ms.toDF()
        .select(col("event_type"), floor(col("value") * 10000).cast("long").as("vi"))
        .join(broadcast(edgeDf), "event_type")
        .withColumn("bk", expr("((vi - mn) * 256) div (mx - mn + 1)"))
        .groupBy("event_type", "bk").agg(count(lit(1)).as("c"))
      val emitted = runToMemory(s, hist, freshName("qhist_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: cell counts carry
        ms.addData(b2.toSeq)
      }
      val fin = emitted.groupBy("event_type", "bk").agg(max("c").as("c"))
      val wc = Window.partitionBy("event_type").orderBy("bk")
      val wAll = Window.partitionBy("event_type")
      def qb(p: Int): Column =
        min(when(col("cum") * 100 >= col("n") * p, col("bk")))
      fin.withColumn("cum", sum("c").over(wc))
        .withColumn("n", sum("c").over(wAll)) // both windows over the 256-cell relation
        .join(broadcast(edgeDf), "event_type")
        .groupBy("event_type")
        .agg(first("n").as("n"), qb(50).as("b50"), qb(95).as("b95"),
          qb(99).as("b99"), first("mn").as("mn"), first("mx").as("mx"))
        .select(col("event_type"), col("n"),
          (col("mn") + expr("(b50 * (mx - mn + 1)) div 256")).as("est50_c"),
          (col("mn") + expr("(b95 * (mx - mn + 1)) div 256")).as("est95_c"),
          (col("mn") + expr("(b99 * (mx - mn + 1)) div 256")).as("est99_c"))
        .orderBy("event_type")
    }),

    // Streaming deletion-latency audit (batch twin feed_delete_latency,
    // over the replay window): ValueState per subject carries the last
    // state-bearing timestamp ACROSS micro-batches; the first tombstone
    // emits (terr, last-put) once and freezes the subject — state is one
    // tiny row per live subject, the right-to-be-forgotten monitor shape
    // for an unbounded feed. Per-batch rows replay in event-time order
    // inside the handler (at-least-once arrival is unordered).
    "stream_delete_latency_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      def update(u: Long, it: Iterator[Ev],
                 state: GroupState[DelState]): Iterator[DelOut] = {
        var st = state.getOption.getOrElse(DelState(-1L, done = false))
        val out = scala.collection.mutable.Buffer[DelOut]()
        it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
          if (!st.done) {
            if (e.event_type == "error") {
              out += DelOut(u, e.ts_us,
                if (st.lastPut >= 0) Some(st.lastPut) else None)
              st = st.copy(done = true)
            } else st = st.copy(lastPut = e.ts_us)
          }
        }
        state.update(st)
        out.iterator
      }
      val lat = ms.toDS().groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(update)
      val emitted = runToMemory(s, lat.toDF(), freshName("del_latency"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable() // last-put state carries across the boundary
        ms.addData(b2.toSeq)
      }
      emitted
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n_deleted"),
          sum(when(col("tput").isNull, 1L).otherwise(0L)).as("n_no_prior"),
          sum(col("terr") - col("tput")).as("sum_latency_us"),
          min(col("terr") - col("tput")).as("min_latency_us"),
          max(col("terr") - col("tput")).as("max_latency_us"))
        .orderBy("user_bucket")
    }),

    // Streaming count-min sketch maintenance (batch twin:
    // heavy_hitters_cms' grid): the 4×256 CMS cell grid kept as
    // streaming aggregation state — each event increments its 4
    // md5-derived cells, update mode re-emits grown cells, and the
    // final grid is the per-cell monotone MAX. Probe users (< 20) are
    // then estimated from the grid: est = min over the 4 cells, with
    // the one-sided guarantee est ≥ exact. State is the GRID (1024
    // cells), never per-key — the fixed-memory frequency shape for an
    // unbounded stream.
    "stream_cms_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val cells = ms.toDF()
        .select(col("user_id"), explode(sequence(lit(0L), lit(3L))).as("seed"))
        .withColumn("bucket", substring(md5(concat(col("seed").cast("string"),
          lit(":"), col("user_id").cast("string"))), 1, 2))
        .groupBy("seed", "bucket").agg(count(lit(1)).as("c"))
      val emitted = runToMemory(s, cells, freshName("cms_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable() // cells keep counting across the boundary
        ms.addData(b2.toSeq)
      }
      val fin = emitted.groupBy("seed", "bucket").agg(max("c").as("cell"))
      val exact = Tables.events(s, d)
        .filter(col("event_id") < ReplayBound && col("user_id") < 20)
        .groupBy("user_id").agg(count(lit(1)).as("exact"))
      exact
        .select(col("user_id"), col("exact"),
          explode(sequence(lit(0L), lit(3L))).as("seed"))
        .withColumn("bucket", substring(md5(concat(col("seed").cast("string"),
          lit(":"), col("user_id").cast("string"))), 1, 2))
        .join(fin, Seq("seed", "bucket"))
        .groupBy("user_id")
        .agg(max("exact").as("exact"), min("cell").as("est"))
        .withColumn("overcount", col("est") - col("exact"))
        .orderBy("user_id")
    }),

    // Streaming Merkle manifest maintenance (batch twin:
    // feed_manifest_merkle): per-page id sets kept as streaming
    // aggregation state, update mode re-emitting only pages the
    // micro-batch touched — maintaining the manifest costs O(pages
    // touched per batch), never a feed re-hash. The id-ordered batch
    // split puts the boundary page's ids in BOTH batches, so its final
    // digest requires genuine cross-batch state carry. The level-1/root
    // fold then runs over the |pages|-row digest relation only.
    "stream_manifest_merkle" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(_.event_id)
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val pages = ms.toDF()
        .groupBy(expr("event_id div 100").as("page"))
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(col("event_id"))).as("ids"))
      val emitted = runToMemory(s, pages, freshName("merkle_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable() // boundary page spans both micro-batches
        ms.addData(b2.toSeq)
      }
      // final state per page = the emission carrying its complete id set
      val wp = Window.partitionBy("page").orderBy(col("n").desc)
      val fin = emitted.withColumn("rn", row_number().over(wp))
        .filter(col("rn") === 1)
        .select(col("page"), col("n"),
          md5(array_join(transform(col("ids"), x => x.cast("string")), ","))
            .as("pd"))
      val l1 = fin.groupBy(expr("page div 16").as("bucket"))
        .agg(count(lit(1)).as("n_pages"), sum(col("n")).as("n_events"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("page"), col("pd")))),
            x => x.getField("pd")), ",")).as("digest1"))
      val root = l1.agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("bucket"), col("digest1")))),
        x => x.getField("digest1")), ",")).as("root"))
      l1.crossJoin(broadcast(root)).orderBy("bucket")
    }),

    // Continuously-maintained aggregate read model (README.md:168-179,
    // 274-292): flatMapGroupsWithState keyed by subject keeps the latest
    // envelope per subject; a DELETE tombstone removes the state
    // (README.md:290). Fed as two micro-batches split at the median id —
    // genuine cross-batch state carry-over — then the per-batch emissions
    // are reduced to the final state per subject.
    "stream_readmodel_state" -> ((s, d) => {
      import s.implicits._
      val ces = CloudEvent.fromEvents(
        Tables.events(s, d).filter(col("event_id") < ReplayBound)).collect()
      val sorted = ces.sortBy(_.id)
      val (b1, b2) = sorted.splitAt(sorted.length / 2)
      val ms = MemoryStream[CloudEvent](s)

      def update(subject: String, it: Iterator[CloudEvent],
                 state: GroupState[CloudEvent]): Iterator[StateOut] = {
        val (latest, keep) = latestTransition(state.getOption, it)
        if (keep) state.update(latest) else state.remove()
        Iterator.single(StateOut(subject.toLong, latest.id, latest.`type`,
          latest.method.getOrElse(CloudEvent.PUT)))
      }

      val model = ms.toDS()
        .groupByKey(_.subject.getOrElse(""))
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
      val emitted = runToMemory(s, model.toDF(), freshName("readmodel"), OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: state carries over
        ms.addData(b2.toSeq)
      }
      finalReadModel(emitted)
        .select(col("subject"), col("id"), col("event_type"), col("method"))
        .orderBy("subject")
    }),

    // Stream-stream interval join: for every purchase, the same user's
    // clicks within the preceding hour — joined ACROSS micro-batches with
    // watermark-bounded state on both sides (the attribution join a live
    // feed pipeline runs; at-least-once arrival README.md:113 means the
    // two sides interleave arbitrarily). Both sides carry a 30-minute
    // watermark and the join condition bounds event time in both
    // directions, so each side's state evicts once the other side's
    // watermark passes its window — bounded state at 100 TB, keyed by
    // user. Fed as two micro-batches split at the median TIMESTAMP:
    // batch-2 purchases (ts ≥ median) still find their batch-1 clicks
    // (ts ≥ p − 1h > median − 90min = the eviction floor) — real
    // cross-batch join state, deterministic output.
    "stream_join_interval" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val joined = intervalJoinStreams(ms.toDF(), outer = false)
      runToMemory(s, joined, freshName("sjoin"), OutputMode.Append) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: join state carries over
        ms.addData(b2.toSeq)
      }.orderBy("p_id", "c_id")
    }),

    // LEFT-OUTER stream-stream join: every purchase, matched to its
    // preceding-hour clicks when they exist, emitted with a null click
    // (projected as c_id = -1) once the watermark proves no match can
    // still arrive. The null-side emission is exactly watermark
    // finalization: a purchase's outer row appears only after the final
    // watermark (max event time − 30 min) passes it, so purchases in the
    // last 30 minutes stay in state un-emitted — the oracle carries the
    // same cutoff. Matched pairs are the inner join's exact set.
    "stream_join_outer" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val joined = intervalJoinStreams(ms.toDF(), outer = true)
      runToMemory(s, joined, freshName("sjoin_outer"), OutputMode.Append) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()
        ms.addData(b2.toSeq)
      }.orderBy("p_id", "c_id")
    }),

    // Feed sink (README.md:176): foreachBatch materializes the compacted
    // read model to parquet each micro-batch — upsert via dynamic
    // partition overwrite of only the subject-hash buckets the batch
    // touched (the consumer-side "build local read models" half of the
    // spec; serving feeds over HTTP is out of Spark scope).
    "stream_feed_sink" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(_.event_id)
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val stateDir = QueryHygiene.scratchDir("graft_feed_sink", inMemory = true)
      val ckpt = QueryHygiene.scratchDir("graft_feed_sink_ckpt", inMemory = true)
      val ms = MemoryStream[Ev](s)

      val sinkCols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "bucket")
      val upsert: (Dataset[org.apache.spark.sql.Row], Long) => Unit = (batch, _) => {
        val sp = batch.sparkSession
        val incoming = batch.withColumn("bucket", col("user_id") % 16)
          .select(sinkCols.map(col): _*)
        val files = new java.io.File(stateDir).listFiles()
        val hasState = files != null && files.nonEmpty
        val existing =
          if (!hasState) incoming.limit(0)
          else sp.read.parquet(stateDir)
            .withColumn("bucket", col("bucket").cast("long"))
            .select(sinkCols.map(col): _*)
        val touched = incoming.select("bucket").distinct()
        val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
        val merged = existing.join(touched, Seq("bucket"), "left_semi")
          .unionByName(incoming)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        // sever lineage only when the write overwrites files the plan reads
        val safe = if (hasState) merged.localCheckpoint(true) else merged
        // dynamic partition overwrite as a write option: scoped to this
        // write, not to the session
        safe.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(stateDir)
      }

      val q = withConf(s, ShufflePartitions -> "1") { // fixture-sized, see runToMemory
        ms.toDF().writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Update)
          .foreachBatch(upsert)
          .start()
      }
      try {
        ms.addData(b1.toSeq); q.processAllAvailable() // micro-batch 1
        ms.addData(b2.toSeq); q.processAllAvailable() // micro-batch 2 merges
      } finally q.stop()
      s.read.parquet(stateDir)
        .filter(col("event_type") =!= "error") // tombstones removed at read
        .select(col("user_id").as("subject"), col("event_id"), col("ts_us"), col("event_type"))
        .orderBy("subject")
    }),

    // The HTTP feed connector end-to-end (README.md:84-146): an embedded
    // feed server serves the first 1000 events as CloudEvents batch pages;
    // the DSv2 source subscribes with lastEventId offsets and drains with
    // Trigger.AvailableNow. Output ≡ a direct scan of the same range —
    // proving cursor pagination, page parsing, and offset bookkeeping.
    "stream_http_source" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("event_id") < 1000)
      val envelope = struct(
        lpad(col("event_id").cast("string"), 13, "0").as("id"),
        lit("1.0").as("specversion"),
        col("event_type").as("type"),
        lit("https://feeds.example/events").as("source"),
        col("ts_us").as("time_us"),
        col("user_id").cast("string").as("subject"),
        when(col("event_type") === "error", "DELETE").otherwise("PUT").as("method"),
        lit("application/json").as("datacontenttype"),
        col("props").as("data"))
      val rows = ev.select(envelope.as("envelope"))
        .select(col("envelope.id"), to_json(col("envelope")).as("json"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val server = new TestFeedServer(rows, pageSize = 100)
      try {
        val name = freshName("http_src")
        val q = s.readStream.format("http-feed")
          .option("url", server.url).option("timeoutMs", "200").load()
          .writeStream.format("memory").queryName(name)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(180000)
        q.stop()
        s.table(name)
          .select(col("id"), col("type"), col("time_us"),
            col("subject").cast("long").as("subject"), col("method"), col("data"))
          .orderBy("id")
      } finally server.stop()
    }),

    // Broadcast-sketch routing in a stream: a Bloom filter over the
    // BUILDING segment's customer keys (16384 bits, 512 × 32-bit words,
    // k = 3 — the sketch_bloom_fpr construction) is built batch-side,
    // collected as a 512-entry MAP LITERAL (sketches are exactly the
    // state small enough to publish to every executor — the
    // denseDictionary pattern), and every streamed event is routed by
    // pure projection: probable-member vs certain-non-member. ONE
    // streaming aggregation counts (type, route) — no per-event state.
    "stream_bloom_route" -> ((s, d) => {
      import s.implicits._
      val bits = 16384
      val members = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      def pos(idCol: Column, seedCol: Column): Column =
        graft.api.Sampling.hashBucket(
          concat(idCol.cast("string"), lit(":"), seedCol.cast("string")), bits)
      val posSet: Array[Long] = members
        .select(col("k"), explode(sequence(lit(0), lit(2))).as("seed"))
        .withColumn("pos", pos(col("k"), col("seed")))
        .select(col("pos").cast("long")).distinct()
        .as[Long].collect()
      // the filter as its literal PACKED-WORD form (bits/64 longs — the
      // actual 16384-bit sketch): the former ≤3·|members|-entry map
      // literal carried thousands of entries that streaming re-planning
      // re-analyzed and re-serialized EVERY micro-batch; the 256-word
      // array is the constant-size representation a deployment would
      // broadcast, probed by two shifts and a mask. Routing stays a pure
      // per-row expression: no join, no state, identical membership.
      val words = new Array[Long](bits / 64)
      posSet.foreach(p => words(p.toInt / 64) |= (1L << (p.toInt % 64)))
      val wordsLit = typedLit(words.toSeq)
      def probe(seed: Int): Column = {
        val p = pos(col("user_id"), lit(seed)) // 0..bits-1, BIGINT
        val word = element_at(wordsLit,
          shiftrightunsigned(p, 6).cast("int") + lit(1))
        call_function("shiftrightunsigned", word,
          p.bitwiseAND(lit(63L)).cast("int"))
          .bitwiseAND(lit(1L)) === lit(1L)
      }
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val routed = ms.toDF()
        .withColumn("probable_member",
          when(probe(0) && probe(1) && probe(2), 1L).otherwise(0L))
        .groupBy("event_type", "probable_member")
        .agg(count(lit(1)).as("n"))
      val emitted = runToMemory(s, routed, freshName("bloom_route"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()
        ms.addData(b2.toSeq)
      }
      emitted.groupBy("event_type", "probable_member")
        .agg(max("n").as("n"))
        .orderBy("event_type", "probable_member")
    }),

    // Streaming deterministic HLL (batch twin: agg_hll_deterministic):
    // flatMapGroupsWithState per type keeps the 64 max-rank registers —
    // O(1) state, merge = elementwise max (idempotent: at-least-once
    // delivery cannot corrupt the sketch) — and emits the estimate per
    // batch. Σρ grows with every register update, so the max-(Σρ, est)
    // emission is the final sketch; the oracle recomputes the identical
    // registers from the bounded replay window.
    "stream_hll_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      def upd(t: String, it: Iterator[Ev],
              state: GroupState[Seq[Long]]): Iterator[KmvOut] = {
        val regs = state.getOption.map(_.toArray)
          .getOrElse(Array.fill(64)(0L))
        it.foreach { e =>
          val h = graft.ops.UdafOps.idHash24(e.user_id)
          val b = (h % 64).toInt
          regs(b) = math.max(regs(b), graft.ops.SketchOps.hllRho(h / 64))
        }
        state.update(regs.toSeq)
        Iterator.single(KmvOut(t, regs.sum,
          math.floor(graft.ops.SketchOps.hllEstimate(regs) * 100).toLong))
      }
      val out = ms.toDS().groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(upd)
      val emitted = runToMemory(s, out.toDF(), freshName("hll_state"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // registers carry across batches
        ms.addData(b2.toSeq)
      }
      emitted.groupBy("event_type")
        .agg(max(struct(col("n_state"), col("est_c"))).as("m"))
        .select(col("event_type"), col("m.est_c").as("est_c"))
        .orderBy("event_type")
    }),

    // Streaming KMV distinct sketch (batch twin: distinct_kmv_sketch):
    // flatMapGroupsWithState per type keeps the k = 32 smallest
    // (md5-uniform, id) pairs — BOUNDED state whatever the stream
    // volume, and a pure FUNCTION of the id set (merge = keep-smallest
    // of the union), so arrival order and batch boundaries cannot change
    // the final sketch: streamed est ≡ the direct batch sketch, which is
    // what the oracle recomputes.
    "stream_kmv_state" -> ((s, d) => {
      import s.implicits._
      val k = 32
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      def upd(t: String, it: Iterator[Ev],
              state: GroupState[Seq[(Double, Long)]]): Iterator[KmvOut] = {
        val incoming = it.map(e =>
          ((graft.ops.UdafOps.idHash24(e.user_id) + 1).toDouble / 16777217.0,
            e.user_id)).toSeq
        val merged = (state.getOption.getOrElse(Seq.empty) ++ incoming)
          .distinct.sortBy { case (u, id) => (u, id) }.take(k)
        state.update(merged)
        val est =
          if (merged.length < k) merged.length.toDouble
          else (k - 1).toDouble / merged.last._1
        Iterator.single(KmvOut(t, merged.length.toLong,
          math.floor(est * 100).toLong))
      }
      val out = ms.toDS().groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(upd)
      val emitted = runToMemory(s, out.toDF(), freshName("kmv_state"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // sketch state carries across batches
        ms.addData(b2.toSeq)
      }
      // final sketch per type = the latest emission: n_state grows to k
      // and then the k-th minimum only DECREASES, so est = (k−1)/u_k
      // only increases — (n_state, est_c) is monotone across batches and
      // the max struct is the final state
      emitted.groupBy("event_type")
        .agg(max(struct(col("n_state"), col("est_c"))).as("m"))
        .select(col("event_type"), col("m.est_c").as("est_c"))
        .orderBy("event_type")
    }),

    // Incremental time-weighted average (batch twin: twap_time_weighted):
    // flatMapGroupsWithState keyed by event type holds the LAST reading
    // (the held value of step interpolation) plus exact integer interval
    // accumulators — the boundary interval between micro-batches is
    // closed by the state carry-over, so the streaming totals equal the
    // batch lead()-window computation bit-for-bit. Fed as two
    // micro-batches split at the median timestamp; Update-mode running
    // totals are monotone in n, so the final value per type is the
    // max-n emission.
    "stream_twap_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      def upd(t: String, it: Iterator[Ev],
              state: GroupState[TwapState]): Iterator[TwapOut] = {
        // within-batch order is not guaranteed by the shuffle: restore
        // the event-time order (bounded per (type, micro-batch))
        val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
        var st = state.getOption.getOrElse(TwapState(-1L, 0L, 0L, 0L, 0L, 0L))
        evs.foreach { e =>
          val v = math.floor(e.value * 10000).toLong
          st = if (st.lastTs >= 0) {
            val dt = e.ts_us - st.lastTs
            TwapState(e.ts_us, v, st.accW + st.lastV * dt,
              st.accSpan + dt, st.accV + st.lastV, st.n + 1)
          } else TwapState(e.ts_us, v, 0L, 0L, 0L, 0L)
        }
        state.update(st)
        Iterator.single(TwapOut(t, st.n, st.accSpan, st.accW, st.accV))
      }
      val out = ms.toDS().groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(upd)
      val emitted = runToMemory(s, out.toDF(), freshName("twap_state"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: held value carries
        ms.addData(b2.toSeq)
      }
      emitted.groupBy("event_type")
        .agg(max(struct(col("n_intervals"), col("span_us"), col("wsum"),
          col("vsum"))).as("m"))
        .select(col("event_type"), col("m.n_intervals").as("n_intervals"),
          col("m.span_us").as("span_us"),
          expr("m.wsum div m.span_us").as("twap_c"),
          expr("m.vsum div m.n_intervals").as("mean_c"))
        .orderBy("event_type")
    }),

    // Streaming rate alerting: tumbling 1-hour counts per type as a
    // streaming aggregation (Update mode; counts are monotone, final =
    // max emission), then the alert rule — current window exceeds 2.5×
    // the mean of the 6 preceding windows — evaluated over the
    // |windows|×|types| emitted relation with a type-partitioned lag
    // window. Pure integer (n·100·6 vs 250·trailing_sum).
    "stream_rate_alert" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val counts = ms.toDF()
        .select(timestamp_micros(col("ts_us")).as("ets"), col("event_type"))
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("win_us"),
          col("event_type"), col("n"))
      val emitted = runToMemory(s, counts, freshName("rate_alert"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // cross-batch window accumulation
        ms.addData(b2.toSeq)
      }
      val fin = emitted.groupBy("win_us", "event_type").agg(max("n").as("n"))
      val wT = Window.partitionBy("event_type").orderBy("win_us")
        .rowsBetween(-6, -1)
      fin
        .withColumn("trail_n", count(lit(1)).over(wT))
        .withColumn("trail_sum", sum("n").over(wT))
        .filter(col("trail_n") === 6)
        .withColumn("alert",
          when(col("n") * 600 > col("trail_sum") * 250, 1L).otherwise(0L))
        .select("win_us", "event_type", "n", "trail_sum", "alert")
        .orderBy("win_us", "event_type")
    }),

    // HTTP caching end-to-end (README.md:330-332): the server marks full
    // immutable batches `Cache-Control: public, max-age=…` and the DSv2
    // readers store them in the JVM-wide page cache, so a REPLAY of the
    // same range (task retry, restart backfill, a second consumer on the
    // executor) is served from memory instead of the wire. The query
    // reads the served range twice — cold then warm — REQUIRES ≥ 10
    // cache hits on the warm pass (all 10 full pages), and returns the
    // warm result, which must still equal the direct scan (same oracle
    // as stream_http_source: a cache hit must change nothing).
    "feed_cache_replay" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("event_id") < 1000)
      val envelope = struct(
        lpad(col("event_id").cast("string"), 13, "0").as("id"),
        lit("1.0").as("specversion"),
        col("event_type").as("type"),
        lit("https://feeds.example/events").as("source"),
        col("ts_us").as("time_us"),
        col("user_id").cast("string").as("subject"),
        when(col("event_type") === "error", "DELETE").otherwise("PUT").as("method"),
        lit("application/json").as("datacontenttype"),
        col("props").as("data"))
      val rows = ev.select(envelope.as("envelope"))
        .select(col("envelope.id"), to_json(col("envelope")).as("json"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val server = new TestFeedServer(rows, pageSize = 100)
      try {
        def readAll(): DataFrame = s.read.format("http-feed")
          .option("url", server.url).option("timeoutMs", "0").load()
          .select(col("id"), col("type"), col("time_us"),
            col("subject").cast("long").as("subject"), col("method"),
            col("data"))
        readAll().count() // cold pass populates the page cache
        val hitsBefore = HttpFeedClient.sharedCache.hits
        val warm = readAll().orderBy("id").collect()
        val hits = HttpFeedClient.sharedCache.hits - hitsBefore
        require(hits >= 10,
          s"warm replay served only $hits pages from cache (expected all 10 full pages)")
        s.createDataFrame(
          s.sparkContext.parallelize(warm.toIndexedSeq, 1),
          readAll().schema)
      } finally server.stop()
    }),

    // Streaming admission dedup (the daily-ingest loop as a stream):
    // micro-batch 1 ingests the standing corpus; micro-batch 2 delivers
    // the new batch, which foreachBatch near-dup-checks against
    // everything ALREADY ingested (the cross-set MinHash kernel shared
    // with batch dedup_incremental) before appending it to the corpus.
    // The final pair set is exactly the batch operator's — same oracle.
    "stream_dedup_incremental" -> ((s, d) => {
      import s.implicits._
      // bounded driver-side collect, like every MemoryStream fixture
      // (oracle carries the same doc_id < 2000 bound)
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
        .filter(col("doc_id") < 2000).as[Doc].collect()
      val standing = docs.filter(_.doc_id % 5 != 0)
      val fresh = docs.filter(_.doc_id % 5 == 0)
      val corpusDir = QueryHygiene.scratchDir("graft_incr_corpus", inMemory = true)
      val pairsDir = QueryHygiene.scratchDir("graft_incr_pairs", inMemory = true)
      val ckpt = QueryHygiene.scratchDir("graft_incr_ckpt", inMemory = true)
      val ms = MemoryStream[Doc](s)
      // idempotent under foreachBatch's at-least-once contract: every
      // write is scoped to its batchId directory and OVERWRITES it, so a
      // re-executed micro-batch replaces its own output instead of
      // appending duplicates (the sibling feed sink gets the same
      // guarantee from dynamic partition overwrite).
      val admit: (Dataset[org.apache.spark.sql.Row], Long) => Unit = (batch, bid) => {
        val sp = batch.sparkSession
        val files = new java.io.File(corpusDir).listFiles()
        val hasCorpus = files != null && files.exists(_.getName != s"batch=$bid")
        val incoming = batch.localCheckpoint(true)
        if (hasCorpus) {
          val corpus = sp.read.parquet(corpusDir)
            .filter(col("batch") =!= bid).drop("batch")
          graft.ops.Pipeline.incrementalPairs(incoming, corpus)
            .withColumn("jac_c", Tables.canon(col("jac"))).drop("jac")
            .write.mode("overwrite").parquet(s"$pairsDir/batch=$bid")
        }
        incoming.write.mode("overwrite").parquet(s"$corpusDir/batch=$bid")
      }
      val q = withConf(s, ShufflePartitions -> "2") { // fixture-sized, see runToMemory
        ms.toDF().writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Update)
          .foreachBatch(admit)
          .start()
      }
      try {
        ms.addData(standing.toSeq); q.processAllAvailable() // corpus lands
        ms.addData(fresh.toSeq); q.processAllAvailable()    // batch admitted
      } finally q.stop()
      s.read.parquet(pairsDir)
        .select(col("d_new"), col("d_old"), col("jac_c"))
        .orderBy("d_new", "d_old")
    }),

    // STREAMING interval-union coverage (batch twin
    // ts_interval_union_coverage, same oracle bounds): per-user MERGED
    // disjoint-interval state — each event contributes [ts, ts+5min],
    // inserted with in-place merge so the state size is the number of
    // ISLANDS (bounded by coverage/gap structure, not event count), the
    // fixed-memory form a billing/engagement meter needs on an unbounded
    // stream. Emissions carry the per-user events-seen counter
    // (monotone), so the final answer is the max-counter emission per
    // user — islands themselves can merge (decrease) across batches.
    "stream_interval_union_state" -> ((s, d) => {
      import s.implicits._
      val len = 300000000L // 5 min in µs
      val rows = evRowsCollected(s, d).sortBy(_.event_id)
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      def update(user: Long, it: Iterator[Ev],
                 state: GroupState[IvState]): Iterator[IvOut] = {
        val st0 = state.getOption.getOrElse(IvState(Nil, Nil, 0L))
        var iv: List[(Long, Long)] = st0.starts.zip(st0.ends).toList
        var n = st0.n
        it.foreach { e =>
          val (a, b) = (e.ts_us, e.ts_us + len)
          val (before, rest) = iv.span(_._2 < a) // end < start: disjoint left
          val (overl, after) = rest.span(_._1 <= b) // start ≤ end: merges
          val merged =
            if (overl.isEmpty) (a, b)
            else (math.min(a, overl.head._1), math.max(b, overl.map(_._2).max))
          iv = before ::: (merged :: after)
          n += 1
        }
        state.update(IvState(iv.map(_._1), iv.map(_._2), n))
        Iterator.single(IvOut(user, iv.size.toLong,
          iv.map(t => t._2 - t._1).sum, n))
      }
      val model = ms.toDS()
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
      val emitted = runToMemory(s, model.toDF(), freshName("ivunion"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: intervals carry
        ms.addData(b2.toSeq)
      }
      emitted.groupBy("user_id")
        .agg(max(struct(col("n_seen"), col("n_islands"), col("covered_us")))
          .as("m"))
        .select(col("user_id"), col("m.n_islands").as("n_islands"),
          col("m.covered_us").as("covered_us"))
        .orderBy("user_id")
    }),

    // Streaming heavy hitters as aggregation state: per (type, user)
    // count + canon value sum maintained across micro-batches in Update
    // mode (both monotone — values are non-negative — so the final state
    // is the per-key MAX emission); top-5 users per type extracted from
    // the final aggregate with a deterministic (count desc, user) rank.
    // At scale the state is hash-partitioned on (type, user) and the
    // rank window runs over the aggregate relation, not events.
    "stream_topk_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val counts = ms.toDF().groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("c"),
          sum(floor(col("value") * 10000).cast("long")).as("v"))
      val emitted = runToMemory(s, counts, freshName("topk_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: counts carry
        ms.addData(b2.toSeq)
      }
      val fin = emitted.groupBy("event_type", "user_id")
        .agg(max("c").as("n"), max("v").as("sum_value_c"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("n").desc, col("user_id"))
      fin.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("event_type"), col("rk"), col("user_id"), col("n"),
          col("sum_value_c"))
        .orderBy("event_type", "rk")
    }),

    // Streaming CDC apply: the cdc_merge_snapshot contract driven by a
    // live stream. Latest-change-per-key is streaming aggregation state
    // (max of the event_id-led struct — event_id strictly increases, so
    // each Update-mode emission dominates the previous one and the final
    // state is the per-key MAX emission); the batch tail merges that
    // state into the customer snapshot exactly like the batch operator.
    // At scale the state store holds one ~40-byte struct per live key,
    // and the merge is a key-partitioned left join (MERGE INTO's shape).
    "stream_cdc_apply" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(_.event_id)
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      val latest = ms.toDF().groupBy("user_id")
        .agg(max(struct(col("event_id"), col("event_type"), col("value"))).as("st"))
      val emitted = runToMemory(s, latest, freshName("cdc_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: state carries
        ms.addData(b2.toSeq)
      }
      val fin = emitted.groupBy("user_id").agg(max("st").as("st"))
        .select(col("user_id").as("c_custkey"),
          col("st.event_type").as("ch_type"), col("st.value").as("ch_value"))
      Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
        .join(fin, Seq("c_custkey"), "left")
        .filter(col("ch_type").isNull || col("ch_type") =!= "error")
        .select(col("c_custkey"),
          when(col("ch_type").isNotNull, 1L).otherwise(0L).as("updated"),
          coalesce(Tables.canon(col("ch_value")),
            Tables.canon(col("c_acctbal"))).as("bal_c"))
        .orderBy("c_custkey")
    }),

    // Streaming SCD2: the cdc_scd2_intervals contract maintained as live
    // keyed state. Per user the state is just the CURRENT dimension
    // state (one string); each arriving change OPENS a version, emitted
    // once in Update mode — closing timestamps are derived at read time
    // by the standard lead() over the open-version table (emitting
    // closes from state would mean rewriting history rows; SCD2 stores
    // append opens and derives valid_to, exactly what the batch operator
    // does). Events are fed time-ordered across two micro-batches, so
    // versions genuinely span the batch boundary.
    "stream_scd2_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)

      def update(user: Long, it: Iterator[Ev],
                 st: GroupState[String]): Iterator[Scd2Open] = {
        val sorted = it.toArray.sortBy(r => (r.ts_us, r.event_id))
        var cur = st.getOption
        val out = Array.newBuilder[Scd2Open]
        sorted.foreach { r =>
          if (!cur.contains(r.event_type)) {
            out += Scd2Open(user, r.event_id, r.event_type, r.ts_us)
            cur = Some(r.event_type)
          }
        }
        cur.foreach(st.update)
        out.result().iterator
      }

      val opens = ms.toDS().groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(update)
      val emitted = runToMemory(s, opens.toDF(), freshName("scd2_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: state carries
        ms.addData(b2.toSeq)
      }
      val w2 = Window.partitionBy("user_id")
        .orderBy(col("valid_from_us"), col("event_id"))
      emitted
        .select(col("user_id"), col("event_id"), col("state"),
          col("valid_from_us"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w2) - 1)
        .withColumn("is_current",
          when(col("valid_to_us").isNull, 1L).otherwise(0L))
        .orderBy("user_id", "valid_from_us", "event_id")
    }),

    // Streaming ordered-funnel state: per user, the first-completion
    // timestamps of the signup → click → purchase chain maintained as
    // keyed state across micro-batches (each stage only matches strictly
    // AFTER the previous one — the funnel_conversion contract). Stage
    // flags are monotone, so the final per-user state is the max-struct
    // of the Update-mode emissions; the report is the same per-bucket
    // conversion table as the batch operator.
    "stream_funnel_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(r => (r.ts_us, r.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)

      def update(user: Long, it: Iterator[Ev],
                 st: GroupState[FunnelSt]): Iterator[FunnelSt] = {
        val sorted = it.toArray.sortBy(r => (r.ts_us, r.event_id))
        var cur = st.getOption.getOrElse(FunnelSt(user, -1L, -1L, -1L))
        sorted.foreach { r =>
          r.event_type match {
            case "signup" if cur.t0 < 0 => cur = cur.copy(t0 = r.ts_us)
            case "click" if cur.t1 < 0 && cur.t0 >= 0 && r.ts_us > cur.t0 =>
              cur = cur.copy(t1 = r.ts_us)
            case "purchase" if cur.t2 < 0 && cur.t1 >= 0 && r.ts_us > cur.t1 =>
              cur = cur.copy(t2 = r.ts_us)
            case _ => ()
          }
        }
        st.update(cur)
        Iterator.single(cur)
      }

      val flags = ms.toDS().groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(update)
      val emitted = runToMemory(s, flags.toDF(), freshName("funnel_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: state carries
        ms.addData(b2.toSeq)
      }
      emitted.groupBy("user_id")
        .agg(max(struct(col("t0"), col("t1"), col("t2"))).as("m"))
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("m.t0") >= 0, 1L).otherwise(0L)).as("n_signup"),
          sum(when(col("m.t1") >= 0, 1L).otherwise(0L)).as("n_click"),
          sum(when(col("m.t2") >= 0, 1L).otherwise(0L)).as("n_purchase"))
        .orderBy("user_bucket")
    }),

    // Streaming drift monitor: per-(length band, vintage) counts as
    // Update-mode aggregation state across two micro-batches (counts are
    // monotone → final = per-key MAX emission), then the batch drift
    // tail (integer-ppm shares, |Δ|, total L1) over the band relation —
    // the shadow-deployment drift dashboard as a live query.
    "stream_drift_monitor" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .as[Doc].collect().sortBy(_.doc_id)
      val (b1, b2) = docs.splitAt(docs.length / 2)
      val ms = MemoryStream[Doc](s)
      val counts = ms.toDF()
        .select(expr("length(text) div 50").as("band"),
          expr("doc_id % 2").as("vintage"))
        .groupBy("band", "vintage").agg(count(lit(1)).as("c"))
      val emitted = runToMemory(s, counts, freshName("drift_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: counts carry
        ms.addData(b2.toSeq)
      }
      val fin = emitted.groupBy("band", "vintage").agg(max("c").as("c"))
      val bands = fin.groupBy("band")
        .agg(sum(when(col("vintage") === 0, col("c")).otherwise(0L)).as("c0"),
          sum(when(col("vintage") === 1, col("c")).otherwise(0L)).as("c1"))
      val w = Window.partitionBy()
      bands
        .withColumn("n0", sum("c0").over(w))
        .withColumn("n1", sum("c1").over(w))
        .withColumn("p0_ppm", expr("(c0 * 1000000) div n0"))
        .withColumn("p1_ppm", expr("(c1 * 1000000) div n1"))
        .withColumn("d_ppm", abs(col("p1_ppm") - col("p0_ppm")))
        .withColumn("l1_total_ppm", sum("d_ppm").over(w))
        .select("band", "c0", "c1", "p0_ppm", "p1_ppm", "d_ppm",
          "l1_total_ppm")
        .orderBy("band")
    }),

    // Custom typed Aggregator AS STREAMING STATE: the 4-seed min-hash
    // signature per language maintained by the same mergeable Aggregator
    // the batch udaf_minhash_group uses — Update-mode emissions are
    // elementwise-monotone (min), so the final signature is the per-key
    // MIN over emissions. Proves user-defined aggregation state flows
    // through Structured Streaming unchanged.
    "stream_minhash_state" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .as[Doc].collect().sortBy(_.doc_id)
      val (b1, b2) = docs.splitAt(docs.length / 2)
      val ms = MemoryStream[Doc](s)
      val sig = ms.toDS().groupByKey(_.lang)
        .agg(graft.ops.UdafOps.minHashAgg[Doc](_.doc_id)
          .toColumn.name("sig"))
        .toDF("lang", "sig")
      val emitted = runToMemory(s, sig, freshName("minhash_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: state carries
        ms.addData(b2.toSeq)
      }
      emitted.select(col("lang"), posexplode(col("sig"))
          .as(Seq("seed", "sig")))
        .groupBy(col("lang"), col("seed").cast("long").as("seed"))
        .agg(min("sig").as("sig"))
        .orderBy("lang", "seed")
    }),

    // Commutative table checksum maintained as STREAMING aggregation
    // state: per user bucket, the running count and SUM of 24-bit md5
    // row-hashes (the table_fingerprint algebra live) — monotone, so the
    // final fingerprint is the per-bucket MAX emission. An engine that
    // keeps this stream running can verify any replica at any moment.
    "stream_fingerprint_state" -> ((s, d) => {
      import s.implicits._
      val rows = evRowsCollected(s, d).sortBy(_.event_id)
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[Ev](s)
      def hex24(c: org.apache.spark.sql.Column) = {
        val m = md5(c)
        (1 to 6).map { i =>
          val a = ascii(substring(m, i, 1))
          when(a >= 97, a - 87).otherwise(a - 48).cast("long") *
            lit(1L << (4 * (6 - i)))
        }.reduce(_ + _)
      }
      val sums = ms.toDF()
        .select(expr("user_id % 16").as("bucket"),
          hex24(concat_ws("|", col("event_id"), col("event_type"))).as("h"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("h").as("checksum"))
      val emitted = runToMemory(s, sums, freshName("fp_stream"),
          OutputMode.Update) { q =>
        ms.addData(b1.toSeq)
        q.processAllAvailable()          // batch boundary: sums carry
        ms.addData(b2.toSeq)
      }
      emitted.groupBy("bucket")
        .agg(max("n").as("n"), max("checksum").as("checksum"))
        .orderBy("bucket")
    })
  )

  def oracles: Map[String, String] = Map(
    // append-mode finalization: windows closed under the final watermark
    "stream_watermark_late" ->
      """WITH e AS (SELECT * FROM events WHERE event_id < 20000),
        |m AS (SELECT max(epoch_us(ts)) AS mx FROM e),
        |w AS (SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS win_us,
        |        event_type, count(*) AS n
        |      FROM e GROUP BY 1, 2)
        |SELECT win_us, event_type, n FROM w, m
        |WHERE win_us + 3600000000 <= mx - 600000000
        |ORDER BY win_us, event_type""".stripMargin,

    // gaps-and-islands sessions, kept only where the final watermark
    // (bounded feed max − 10 min) closed the session (append-mode
    // finalization; same <= convention as stream_watermark_late)
    "stream_session_state" ->
      """WITH e AS (SELECT user_id, event_id, (epoch_us(ts) // 1000) * 1000 AS us
        |           FROM events WHERE event_id < 20000),
        |mx AS (SELECT max(us) AS m FROM e),
        |b AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |        OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM b),
        |g AS (SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |        count(*) AS n
        |      FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n FROM g, mx
        |WHERE end_us <= m - 600000000
        |ORDER BY user_id, start_us""".stripMargin,

    // the timer-driven session implementation lands the identical set
    "stream_session_timers" ->
      """WITH e AS (SELECT user_id, event_id, (epoch_us(ts) // 1000) * 1000 AS us
        |           FROM events WHERE event_id < 20000),
        |mx AS (SELECT max(us) AS m FROM e),
        |b AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |        OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM b),
        |g AS (SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |        count(*) AS n
        |      FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n FROM g, mx
        |WHERE end_us <= m - 600000000
        |ORDER BY user_id, start_us""".stripMargin,

    // effectively-once: output is the distinct feed despite redelivery
    "stream_dedup_state" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id < 20000 ORDER BY event_id""".stripMargin,

    // the transformWithState read model lands the identical final state
    "stream_readmodel_tws" ->
      """SELECT user_id AS subject,
        |  lpad(CAST(event_id AS VARCHAR), 13, '0') AS id,
        |  event_type, 'PUT' AS method
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id < 20000) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY subject""".stripMargin,

    // read model ≡ compaction ∘ tombstone-filter
    "stream_readmodel_state" ->
      """SELECT user_id AS subject,
        |  lpad(CAST(event_id AS VARCHAR), 13, '0') AS id,
        |  event_type, 'PUT' AS method
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id < 20000) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY subject""".stripMargin,

    // the watermarked stream-stream join lands exactly the batch
    // interval-join pair set (no valid pair is evicted: see the
    // split-at-median-timestamp margin analysis at the query)
    "stream_join_interval" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
        |  epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND p.event_id < 20000 AND c.event_id < 20000
        |ORDER BY p_id, c_id""".stripMargin,

    // inner pairs + outer rows for purchases the final watermark closed.
    // The GLOBAL watermark is the MIN over the two branches' watermarks
    // (each branch tracks its own max event time − 30 min) — using the
    // overall feed maximum would overstate it.
    // BOUNDARY CONVENTION: the null-match row emits on STRICT p_us < wm.
    // Spark's outer-join eviction applies internal ≤/<-with-1ms
    // adjustments, so a purchase timestamp landing EXACTLY on the final
    // watermark could diverge between engine and oracle; no fixture
    // timestamp hits the boundary today (verified by the 154/154 gate at
    // sf0.01 and sf0.1) — if the generator ever changes, exclude the
    // exact-boundary timestamp or re-derive this convention.
    "stream_join_outer" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase' AND event_id < 20000),
        |c AS (SELECT event_id AS c_id, user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click' AND event_id < 20000),
        |m AS (SELECT least((SELECT max(c_us) FROM c),
        |                   (SELECT max(p_us) FROM p)) - 1800000000 AS wm),
        |pairs AS (SELECT p.p_id, c.c_id, p.user_id, p.p_us
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us),
        |unmatched AS (SELECT p.p_id, -1 AS c_id, p.user_id, p.p_us
        |  FROM p, m
        |  WHERE p.p_us < m.wm
        |    AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
        |      AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us))
        |SELECT p_id, CAST(c_id AS BIGINT) AS c_id, user_id, p_us FROM pairs
        |UNION ALL
        |SELECT p_id, CAST(c_id AS BIGINT) AS c_id, user_id, p_us FROM unmatched
        |ORDER BY p_id, c_id""".stripMargin,

    "stream_feed_sink" ->
      """SELECT user_id AS subject, event_id, epoch_us(ts) AS ts_us, event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id < 20000) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY subject""".stripMargin,

    // streamed sketch routing ≡ batch recomputation of the same bloom
    "stream_bloom_route" -> {
      val hv = graft.api.Sampling.hexDecodeSql(
        "md5(CAST(k AS VARCHAR) || ':' || CAST(seed AS VARCHAR))")
      val hvU = graft.api.Sampling.hexDecodeSql(
        "md5(CAST(user_id AS VARCHAR) || ':' || CAST(seed AS VARCHAR))")
      s"""WITH mem AS (SELECT c_custkey AS k FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |mp AS (SELECT k, unnest(generate_series(0, 2)) AS seed FROM mem),
        |mb AS (SELECT DISTINCT ($hv) % 16384 AS pos FROM mp),
        |e AS (SELECT event_id, event_type, user_id FROM events
        |  WHERE event_id < 20000),
        |ep AS (SELECT event_id, event_type, user_id,
        |    unnest(generate_series(0, 2)) AS seed FROM e),
        |pp AS (SELECT event_id, event_type, ($hvU) % 16384 AS pos FROM ep),
        |pe AS (SELECT pp.event_id, pp.event_type,
        |    CAST(min(CASE WHEN mb.pos IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS probable_member
        |  FROM pp LEFT JOIN mb ON pp.pos = mb.pos
        |  GROUP BY 1, 2)
        |SELECT event_type, probable_member, count(*) AS n
        |FROM pe GROUP BY 1, 2 ORDER BY event_type, probable_member"""
        .stripMargin
    },

    // streamed HLL registers ≡ the direct sketch over the replay window
    "stream_hll_state" -> {
      val hv = graft.api.Sampling.hexDecodeSql("md5(CAST(user_id AS VARCHAR))")
      val rank = {
        val whens = (17 to 0 by -1).map { b =>
          s"WHEN (hvv // 64) >= ${1L << b} THEN ${18 - b}"
        }.mkString(" ")
        s"(CASE $whens ELSE 19 END)"
      }
      s"""WITH h AS (SELECT event_type, user_id, ($hv) AS hvv FROM events
        |  WHERE event_id < 20000),
        |r AS (SELECT event_type, hvv % 64 AS bucket, $rank AS rho FROM h),
        |reg AS (SELECT event_type, bucket, max(rho) AS m_rho
        |  FROM r GROUP BY 1, 2),
        |f AS (SELECT event_type, count(*) AS n_buckets,
        |    sum(1.0 / power(2.0, m_rho)) AS s_hit
        |  FROM reg GROUP BY 1),
        |e0 AS (SELECT event_type, n_buckets,
        |    0.709 * 4096.0 / (s_hit + (64 - n_buckets)) AS raw FROM f),
        |e AS (SELECT event_type,
        |    CASE WHEN n_buckets < 64 AND raw <= 160.0
        |      THEN 64.0 * ln(64.0 / CAST(64 - n_buckets AS DOUBLE))
        |      ELSE raw END AS est FROM e0)
        |SELECT event_type, CAST(floor(est * 100) AS BIGINT) AS est_c
        |FROM e ORDER BY event_type""".stripMargin
    },

    // streamed KMV state ≡ the direct batch sketch over the same window
    "stream_kmv_state" -> {
      val hv = graft.api.Sampling.hexDecodeSql("m")
      s"""WITH dist AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE event_id < 20000),
        |u0 AS (SELECT event_type, user_id,
        |    md5(CAST(user_id AS VARCHAR)) AS m FROM dist),
        |h AS (SELECT event_type, user_id, $hv AS hvv FROM u0),
        |p AS (SELECT event_type, user_id,
        |    CAST(hvv + 1 AS DOUBLE) / 16777217.0 AS u FROM h),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY u, user_id) AS rk FROM p),
        |kth AS (SELECT event_type, u FROM r WHERE rk = 32),
        |cnt AS (SELECT event_type, count(*) AS n FROM dist GROUP BY 1)
        |SELECT cnt.event_type AS event_type,
        |  CAST(floor(CASE WHEN kth.u IS NOT NULL THEN 31.0 / kth.u
        |    ELSE CAST(cnt.n AS DOUBLE) END * 100) AS BIGINT) AS est_c
        |FROM cnt LEFT JOIN kth ON cnt.event_type = kth.event_type
        |ORDER BY 1""".stripMargin
    },

    // incremental state TWAP ≡ the batch lead()-window computation
    // (over the fixtures' bounded replay window)
    "stream_twap_state" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |    CAST(floor(value * 10000) AS BIGINT) AS v_c FROM events
        |  WHERE event_id < 20000),
        |l AS (SELECT *, lead(ts_us, 1) OVER (PARTITION BY event_type
        |    ORDER BY ts_us, event_id) - ts_us AS dt FROM e),
        |g AS (SELECT event_type, count(*) AS n_intervals,
        |    CAST(sum(v_c * dt) AS BIGINT) AS wsum,
        |    CAST(sum(dt) AS BIGINT) AS span_us,
        |    CAST(sum(v_c) AS BIGINT) AS vsum
        |  FROM l WHERE dt IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_intervals, span_us,
        |  wsum // span_us AS twap_c, vsum // n_intervals AS mean_c
        |FROM g ORDER BY event_type""".stripMargin,

    // streaming tumbling counts + trailing-window alert ≡ batch hourly SQL
    "stream_rate_alert" ->
      """WITH c AS (SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP))
        |      AS win_us, event_type, count(*) AS n
        |  FROM events WHERE event_id < 20000 GROUP BY 1, 2),
        |w AS (SELECT *, count(*) OVER tw AS trail_n,
        |    CAST(sum(n) OVER tw AS BIGINT) AS trail_sum
        |  FROM c WINDOW tw AS (PARTITION BY event_type ORDER BY win_us
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
        |SELECT win_us, event_type, n, trail_sum,
        |  CAST(CASE WHEN n * 600 > trail_sum * 250 THEN 1 ELSE 0 END
        |    AS BIGINT) AS alert
        |FROM w WHERE trail_n = 6 ORDER BY win_us, event_type""".stripMargin,

    // warm cache-served replay ≡ direct scan — a cache hit changes nothing
    "feed_cache_replay" ->
      """SELECT lpad(CAST(event_id AS VARCHAR), 13, '0') AS id,
        |  event_type AS type, epoch_us(ts) AS time_us, user_id AS subject,
        |  CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'PUT' END AS method,
        |  props AS data
        |FROM events WHERE event_id < 1000 ORDER BY id""".stripMargin,

    // connector replay ≡ direct scan of the served range
    "stream_http_source" ->
      """SELECT lpad(CAST(event_id AS VARCHAR), 13, '0') AS id,
        |  event_type AS type, epoch_us(ts) AS time_us, user_id AS subject,
        |  CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'PUT' END AS method,
        |  props AS data
        |FROM events WHERE event_id < 1000 ORDER BY id""".stripMargin,

    // the streaming admission loop lands exactly the batch
    // dedup_incremental pair set — identical oracle
    "stream_dedup_incremental" ->
      """WITH tok AS (SELECT DISTINCT doc_id, lang, unnest(str_split(text, ' ')) AS tk
        |             FROM documents WHERE doc_id < 2000),
        |sig AS (SELECT doc_id, lang, s AS seed,
        |          min(md5(tk || ':' || CAST(s AS VARCHAR))) AS mh
        |        FROM tok, unnest(generate_series(0, 7)) t(s)
        |        GROUP BY doc_id, lang, s),
        |band AS (SELECT doc_id, lang, seed // 2 AS band,
        |           md5(string_agg(mh, '|' ORDER BY seed)) AS bandkey
        |         FROM sig GROUP BY doc_id, lang, seed // 2),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM band a JOIN band b ON a.lang = b.lang AND a.band = b.band
        |           AND a.bandkey = b.bandkey
        |           AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
        |sets AS (SELECT doc_id, list(tk) AS tks FROM tok GROUP BY doc_id),
        |v AS (SELECT d1, d2, len(list_intersect(sa.tks, sb.tks)) AS shared,
        |        len(sa.tks) AS n1, len(sb.tks) AS n2
        |      FROM cand JOIN sets sa ON d1 = sa.doc_id JOIN sets sb ON d2 = sb.doc_id)
        |SELECT d1 AS d_new, d2 AS d_old,
        |  CAST(floor((shared * 1.0 / (n1 + n2 - shared)) * 10000) AS BIGINT) AS jac_c
        |FROM v WHERE shared * 1.0 / (n1 + n2 - shared) >= 0.5
        |ORDER BY d_new, d_old""".stripMargin,

    // the batch quantile_hist oracle bounded to the replay window — the
    // streaming state's final sketch must land the identical histogram
    "stream_delete_latency_state" ->
      """WITH w AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_id < 20000),
        |fd AS (SELECT user_id, min(us) AS terr FROM w
        |  WHERE event_type = 'error' GROUP BY user_id),
        |lp AS (SELECT w.user_id, max(w.us) AS tput
        |  FROM w JOIN fd ON w.user_id = fd.user_id
        |  WHERE w.event_type <> 'error' AND w.us < fd.terr
        |  GROUP BY w.user_id)
        |SELECT fd.user_id % 10 AS user_bucket, count(*) AS n_deleted,
        |  CAST(sum(CASE WHEN lp.tput IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_prior,
        |  CAST(sum(fd.terr - lp.tput) AS BIGINT) AS sum_latency_us,
        |  min(fd.terr - lp.tput) AS min_latency_us,
        |  max(fd.terr - lp.tput) AS max_latency_us
        |FROM fd LEFT JOIN lp ON fd.user_id = lp.user_id
        |GROUP BY 1 ORDER BY user_bucket""".stripMargin,

    "stream_cms_state" ->
      """WITH w AS (SELECT user_id FROM events WHERE event_id < 20000),
        |tc AS (SELECT user_id, count(*) AS c FROM w GROUP BY 1),
        |g AS (SELECT tc.user_id, tc.c, t.s,
        |    substr(md5(CAST(t.s AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)),
        |      1, 2) AS b
        |  FROM tc CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) t),
        |cells AS (SELECT s, b, sum(c) AS cell FROM g GROUP BY 1, 2),
        |est AS (SELECT g.user_id, g.c, min(cells.cell) AS est
        |  FROM g JOIN cells ON g.s = cells.s AND g.b = cells.b
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(c AS BIGINT) AS exact, CAST(est AS BIGINT) AS est,
        |  CAST(est - c AS BIGINT) AS overcount
        |FROM est WHERE user_id < 20 ORDER BY user_id""".stripMargin,

    // identical to feed_manifest_merkle (the streaming maintenance must
    // land exactly the batch manifest over the same replay window)
    "stream_manifest_merkle" ->
      """WITH p AS (SELECT event_id // 100 AS page, count(*) AS n,
        |    md5(string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)) AS pd
        |  FROM events WHERE event_id < 20000 GROUP BY 1),
        |l1 AS (SELECT page // 16 AS bucket, count(*) AS n_pages,
        |    CAST(sum(n) AS BIGINT) AS n_events,
        |    md5(string_agg(pd, ',' ORDER BY page)) AS digest1
        |  FROM p GROUP BY 1),
        |r AS (SELECT md5(string_agg(digest1, ',' ORDER BY bucket)) AS root FROM l1)
        |SELECT bucket, n_pages, n_events, digest1, root
        |FROM l1, r ORDER BY bucket""".stripMargin,

    "stream_quantile_hist" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 10000) AS BIGINT) AS vi FROM events
        |  WHERE event_id < 20000),
        |st AS (SELECT event_type, min(vi) AS mn, max(vi) AS mx,
        |    count(*) AS n FROM v GROUP BY event_type),
        |h AS (SELECT v.event_type, ((vi - mn) * 256) // (mx - mn + 1) AS bk,
        |    count(*) AS c
        |  FROM v JOIN st ON v.event_type = st.event_type
        |  GROUP BY v.event_type, bk),
        |cu AS (SELECT event_type, bk,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bk) AS cum FROM h),
        |q AS (SELECT cu.event_type,
        |    min(CASE WHEN cum * 100 >= n * 50 THEN bk END) AS b50,
        |    min(CASE WHEN cum * 100 >= n * 95 THEN bk END) AS b95,
        |    min(CASE WHEN cum * 100 >= n * 99 THEN bk END) AS b99
        |  FROM cu JOIN st ON cu.event_type = st.event_type
        |  GROUP BY cu.event_type)
        |SELECT q.event_type, st.n,
        |  CAST(mn + (b50 * (mx - mn + 1)) // 256 AS BIGINT) AS est50_c,
        |  CAST(mn + (b95 * (mx - mn + 1)) // 256 AS BIGINT) AS est95_c,
        |  CAST(mn + (b99 * (mx - mn + 1)) // 256 AS BIGINT) AS est99_c
        |FROM q JOIN st ON q.event_type = st.event_type
        |ORDER BY q.event_type""".stripMargin,

    // sequential last-touch replay over the fixture window — identical
    // logic to attribution_touch's oracle, bounded to the replayed rows
    "stream_attribution_tws" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |    CAST(floor(value * 10000) AS BIGINT) AS vc FROM events
        |  WHERE event_id < 20000),
        |t AS (SELECT *, last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM e)
        |SELECT coalesce(touch, 'none') AS touch, count(*) AS n_purchases,
        |  CAST(sum(vc) AS BIGINT) AS sum_value_c
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch""".stripMargin,

    // the batch per-(type,user) aggregate bounded to the replay window —
    // the streaming state's final top-5 must land the identical ranks
    "stream_topk_state" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS n,
        |    sum(CAST(floor(value * 10000) AS BIGINT)) AS sum_value_c
        |  FROM events WHERE event_id < 20000 GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, user_id) AS rk FROM c)
        |SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id,
        |  CAST(n AS BIGINT) AS n, CAST(sum_value_c AS BIGINT) AS sum_value_c
        |FROM r WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin,

    // the cdc_merge_snapshot oracle restricted to the fixture's bounded
    // replay window
    "stream_cdc_apply" ->
      """WITH ch AS (SELECT user_id,
        |    arg_max(event_type, event_id) AS ch_type,
        |    arg_max(value, event_id) AS ch_value
        |  FROM events WHERE event_id < 20000 GROUP BY user_id)
        |SELECT c_custkey,
        |  CAST(CASE WHEN ch.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS updated,
        |  CAST(coalesce(floor(ch_value * 10000), floor(c_acctbal * 10000))
        |    AS BIGINT) AS bal_c
        |FROM customer LEFT JOIN ch ON c_custkey = ch.user_id
        |WHERE ch.user_id IS NULL OR ch_type <> 'error'
        |ORDER BY c_custkey""".stripMargin,

    // the cdc_scd2_intervals oracle restricted to the fixture's bounded
    // replay window — the DIFFERENTIAL claim is that live keyed state
    // lands the identical dimension history
    "stream_scd2_state" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_id < 20000),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) AS prev_state FROM e),
        |v AS (SELECT user_id, event_id, event_type AS state, us AS valid_from_us
        |      FROM c WHERE prev_state IS NULL OR prev_state <> event_type)
        |SELECT user_id, event_id, state, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY valid_from_us, event_id) - 1 AS valid_to_us,
        |  CAST(CASE WHEN lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY valid_from_us, event_id) IS NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_current
        |FROM v ORDER BY user_id, valid_from_us, event_id""".stripMargin,

    // the funnel_conversion oracle restricted to the fixture's bounded
    // replay window — streaming state ≡ the batch strict-chaining funnel
    "stream_funnel_state" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_id < 20000),
        |s0 AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN us END) AS t0
        |  FROM e GROUP BY user_id),
        |s1 AS (SELECT e.user_id,
        |    min(CASE WHEN event_type = 'click' AND us > t0 THEN us END) AS t1
        |  FROM e JOIN s0 ON e.user_id = s0.user_id GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id,
        |    min(CASE WHEN event_type = 'purchase' AND us > t1 THEN us END) AS t2
        |  FROM e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id)
        |SELECT s0.user_id % 10 AS user_bucket, count(*) AS n_users,
        |  CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |FROM s0 JOIN s1 ON s0.user_id = s1.user_id
        |  JOIN s2 ON s0.user_id = s2.user_id
        |GROUP BY user_bucket ORDER BY user_bucket""".stripMargin,

    // the drift_l1_buckets algebra with the band derived from len(text)
    // (the streaming fixture has no n_chars column) — live aggregation
    // state ≡ the batch drift report
    "stream_drift_monitor" ->
      """WITH b AS (SELECT len(text) // 50 AS band,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c0,
        |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1
        |  FROM documents GROUP BY 1),
        |t AS (SELECT *, CAST(sum(c0) OVER () AS BIGINT) AS n0,
        |    CAST(sum(c1) OVER () AS BIGINT) AS n1 FROM b),
        |p AS (SELECT *, (c0 * 1000000) // n0 AS p0_ppm,
        |    (c1 * 1000000) // n1 AS p1_ppm FROM t),
        |q AS (SELECT *, abs(p1_ppm - p0_ppm) AS d_ppm FROM p)
        |SELECT band, c0, c1, p0_ppm, p1_ppm, d_ppm,
        |  CAST(sum(d_ppm) OVER () AS BIGINT) AS l1_total_ppm
        |FROM q ORDER BY band""".stripMargin,

    // per-(lang, seed) minimum of the 24-bit md5 decode — the custom
    // Aggregator's streaming state must land the batch signature
    "stream_minhash_state" -> {
      val seeds = (0 to 3).map { i =>
        val hv = graft.api.Sampling.hexDecodeSql(
          s"md5(CAST($i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))")
        s"SELECT lang, CAST($i AS BIGINT) AS seed, " +
          s"CAST(min($hv) AS BIGINT) AS sig FROM documents GROUP BY lang"
      }.mkString("\nUNION ALL\n")
      s"""$seeds
        |ORDER BY lang, seed""".stripMargin
    },

    // the table_fingerprint algebra over the bounded replay window —
    // live aggregation state must land the batch checksum
    "stream_interval_union_state" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |  WHERE event_id < 20000),
        |m AS (SELECT *, max(us + 300000000) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM e),
        |f AS (SELECT *, CASE WHEN pmax IS NULL OR us > pmax THEN 1 ELSE 0 END
        |    AS ni FROM m),
        |s AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid FROM f),
        |isl AS (SELECT user_id, iid, min(us) AS is_start,
        |    max(us + 300000000) AS is_end
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(is_end - is_start) AS BIGINT) AS covered_us
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_fingerprint_state" -> {
      val hv = graft.api.Sampling.hexDecodeSql(
        "md5(CAST(event_id AS VARCHAR) || '|' || event_type)")
      s"""SELECT user_id % 16 AS bucket, count(*) AS n,
        |  CAST(sum($hv) AS BIGINT) AS checksum
        |FROM events WHERE event_id < 20000
        |GROUP BY 1 ORDER BY bucket""".stripMargin
    }
  )
}
