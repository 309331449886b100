package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** §2.1 feed / protocol operators (SURVEY.md), over the `events` table
  * playing the persisted HTTP feed (FIXTURES.md CloudEvents mapping:
  * id=event_id, time=ts, type=event_type, subject=user_id,
  * method = DELETE iff event_type='error').
  *
  * Scale notes: every operator is a declarative plan — cursor filters push
  * into the parquet scan (`PushedFilters: [GT(event_id, …)]`), compaction is
  * one shuffle on the subject key, and nothing touches the
  * driver. At 100 TB the feed would be ingested once (single ordered stream,
  * reference `README.md:9`) then repartitioned by `subject`; these batch
  * operators run on that partitioning without further shuffles.
  */
object FeedOps {

  // Cursor = head offset - 500: scale-proportional page, bounded output.
  private def cursor(ev: DataFrame): DataFrame =
    ev.filter(col("event_id") > expr("(SELECT max(event_id) - 500 FROM events)"))

  private def withEvents(spark: SparkSession, sfDir: String)(f: DataFrame => DataFrame): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.createOrReplaceTempView("events")
    f(ev)
  }

  /** Latest entry per subject — compaction semantics (`README.md:184-192`):
    * a newer entry with the same subject supersedes. `event_id` is the total
    * order key so max-by-event_id is exact. One shuffle on the subject key.
    */
  private def compacted(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
    ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // resume scan strictly after a cursor, in id order (README.md:12,150-154)
    "feed_scan_offset" -> ((s, d) => withEvents(s, d) { ev =>
      cursor(ev)
        .select(col("event_id"), col("ts_us"), col("event_type"), col("user_id"))
        .orderBy("event_id")
    }),

    // one batched page: first 100 events after the cursor (README.md:11)
    "feed_batch_page" -> ((s, d) => withEvents(s, d) { ev =>
      cursor(ev)
        .select(col("event_id"), col("ts_us"), col("event_type"), col("user_id"))
        .orderBy("event_id").limit(100)
    }),

    // full replay from feed start, null cursor (README.md:95-109,173,177)
    "feed_replay_full" -> ((s, d) => withEvents(s, d) { ev =>
      ev.select(
          col("event_id"),
          col("ts_us"),
          col("event_type").as("type"),
          col("user_id").as("subject"),
          when(col("event_type") === "error", "DELETE").otherwise("PUT").as("method"),
          col("props").as("data"))
        .orderBy("event_id")
    }),

    // scan past head returns the empty set — end-of-feed (README.md:79-82)
    "feed_empty_tail" -> ((s, d) => withEvents(s, d) { ev =>
      ev.filter(col("event_id") > expr("(SELECT max(event_id) FROM events)"))
        .select(col("event_id"), col("ts_us"))
        .orderBy("event_id")
    }),

    // server head offset = max id (README.md:150-151)
    "feed_latest_offset" -> ((s, d) => withEvents(s, d) { ev =>
      ev.agg(max("event_id").as("latest_offset"))
    }),

    // at-least-once → effectively-once: redelivered page deduped on id
    // (README.md:113-114,309)
    "feed_dedup_idempotent" -> ((s, d) => withEvents(s, d) { ev =>
      ev.select("event_id", "event_type")
        .unionByName(cursor(ev).select("event_id", "event_type"))
        .dropDuplicates("event_id")
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    // compaction: keep only the newest entry per subject (README.md:184-192)
    "feed_compact_latest" -> ((s, d) => withEvents(s, d) { ev =>
      compacted(ev)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .orderBy("user_id")
    }),

    // subjects whose latest entry is a tombstone (README.md:274-290)
    "feed_tombstone_delete" -> ((s, d) => withEvents(s, d) { ev =>
      compacted(ev).filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .orderBy("user_id")
    }),

    // aggregate-feed read model: latest state per live subject =
    // compaction ∘ tombstone-filter (README.md:168-179,290-292)
    "feed_read_model" -> ((s, d) => withEvents(s, d) { ev =>
      compacted(ev).filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type"), Tables.canon(col("value")).as("value_c"), col("props"))
        .orderBy("user_id")
    }),

    // sequence-prefixed order-key codec (README.md:159):
    // lpad(seq,13,'0') ‖ '::' ‖ uuid-ish suffix; parse the prefix back
    "feed_seq_event_id" -> ((s, d) => withEvents(s, d) { ev =>
      ev.select(col("event_id"),
          concat(lpad(col("event_id").cast("string"), 13, "0"), lit("::"),
            md5(col("event_id").cast("string"))).as("seq_id"))
        .withColumn("parsed_seq", split(col("seq_id"), "::").getItem(0).cast("long"))
        .orderBy("event_id").limit(200)
    }),

    // Gap detection on the sequence-prefixed order key (README.md:150-159):
    // a consumer monitoring an at-least-once feed detects MISSED events by
    // decoding the numeric prefix and flagging non-consecutive deliveries.
    // A deterministic md5 predicate simulates ~1/16 loss; each output row
    // is one gap: the ids around it and how many events went missing.
    // SCALE SHAPE: the lag window is PARTITIONED by a RANGE bucket of the
    // sequence (gaps inside a bucket), and bucket-boundary gaps come from
    // a lag over the bucket min/max summary — the only unpartitioned
    // window runs over the histogram-sized summary, never the feed.
    "feed_gap_detect" -> ((s, d) => withEvents(s, d) { ev =>
      val delivered = ev
        .filter(substring(md5(col("event_id").cast("string")), 1, 1) =!= "a")
        .select(col("event_id"), expr("event_id div 1024").as("bucket"))
      val wIn = Window.partitionBy("bucket").orderBy("event_id")
      val within = delivered
        .withColumn("prev_id", lag(col("event_id"), 1).over(wIn))
        .filter(col("prev_id").isNotNull && col("event_id") - col("prev_id") > 1)
        .select(col("prev_id"), col("event_id").as("next_id"))
      val summary = delivered.groupBy("bucket")
        .agg(min("event_id").as("bmin"), max("event_id").as("bmax"))
      val wB = Window.orderBy("bucket") // histogram-sized relation only
      val across = summary
        .withColumn("prev_max", lag(col("bmax"), 1).over(wB))
        .filter(col("prev_max").isNotNull && col("bmin") - col("prev_max") > 1)
        .select(col("prev_max").as("prev_id"), col("bmin").as("next_id"))
      within.unionByName(across)
        .withColumn("n_missing", col("next_id") - col("prev_id") - 1)
        .orderBy("prev_id")
    }),

    // route one bounded-context type out of a mixed feed (README.md:166,310)
    "feed_type_route" -> ((s, d) => withEvents(s, d) { ev =>
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts_us"), col("user_id"),
          Tables.canon(col("value")).as("value_c"))
        .orderBy("event_id")
    }),

    // per-principal row filtering of a protected feed (README.md:327)
    "feed_principal_filter" -> ((s, d) => withEvents(s, d) { ev =>
      ev.filter(col("user_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
        .orderBy("event_id")
    }),

    // consumer-side fan-in of two feeds into one chronological stream
    // (README.md:9,311); stable order (ts, source, id)
    "feed_multi_source_merge" -> ((s, d) => withEvents(s, d) { ev =>
      val a = ev.filter(col("event_id") % 2 === 0).withColumn("src", lit("A"))
      val b = ev.filter(col("event_id") % 2 === 1).withColumn("src", lit("B"))
      a.unionByName(b)
        .select(col("event_id"), col("ts_us"), col("src"))
        .orderBy("ts_us", "src", "event_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "feed_scan_offset" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, user_id FROM events
        |WHERE event_id > (SELECT max(event_id) - 500 FROM events)
        |ORDER BY event_id""".stripMargin,

    "feed_batch_page" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, user_id FROM events
        |WHERE event_id > (SELECT max(event_id) - 500 FROM events)
        |ORDER BY event_id LIMIT 100""".stripMargin,

    "feed_replay_full" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type AS type,
        |  user_id AS subject,
        |  CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'PUT' END AS method,
        |  props AS data
        |FROM events ORDER BY event_id""".stripMargin,

    "feed_empty_tail" ->
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |WHERE event_id > (SELECT max(event_id) FROM events)
        |ORDER BY event_id""".stripMargin,

    "feed_latest_offset" ->
      "SELECT max(event_id) AS latest_offset FROM events",

    "feed_dedup_idempotent" ->
      """WITH u AS (
        |  SELECT event_id, event_type FROM events
        |  UNION ALL
        |  SELECT event_id, event_type FROM events
        |  WHERE event_id > (SELECT max(event_id) - 500 FROM events)
        |), dd AS (SELECT DISTINCT event_id, event_type FROM u)
        |SELECT event_type, count(*) AS cnt FROM dd
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "feed_compact_latest" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "feed_tombstone_delete" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND event_type = 'error' ORDER BY user_id""".stripMargin,

    "feed_read_model" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |  CAST(floor(value * 10000) AS BIGINT) AS value_c, props FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,

    "feed_seq_event_id" ->
      """SELECT event_id,
        |  lpad(CAST(event_id AS VARCHAR), 13, '0') || '::' || md5(CAST(event_id AS VARCHAR)) AS seq_id,
        |  CAST(split_part(lpad(CAST(event_id AS VARCHAR), 13, '0') || '::' || md5(CAST(event_id AS VARCHAR)), '::', 1) AS BIGINT) AS parsed_seq
        |FROM events ORDER BY event_id LIMIT 200""".stripMargin,

    // the oracle uses the plain single-ordering form — the bucketed plan
    // must produce the identical gap set
    "feed_gap_detect" ->
      """WITH dl AS (SELECT event_id FROM events
        |  WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <> 'a'),
        |g AS (SELECT lag(event_id) OVER (ORDER BY event_id) AS prev_id,
        |    event_id AS next_id FROM dl)
        |SELECT prev_id, next_id, next_id - prev_id - 1 AS n_missing
        |FROM g WHERE prev_id IS NOT NULL AND next_id - prev_id > 1
        |ORDER BY prev_id""".stripMargin,

    "feed_type_route" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        |  CAST(floor(value * 10000) AS BIGINT) AS value_c
        |FROM events WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "feed_principal_filter" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |FROM events WHERE user_id % 10 = 0 ORDER BY event_id""".stripMargin,

    "feed_multi_source_merge" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, src FROM (
        |  SELECT event_id, ts, 'A' AS src FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_id, ts, 'B' AS src FROM events WHERE event_id % 2 = 1) t
        |ORDER BY ts_us, src, event_id""".stripMargin
  )
}
