package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.udf.Uuid6

/** Residual spec-clause operators (round 8): the UUIDv6 time-ordered id
  * scheme (reference `README.md:156-157`) and non-JSON `datacontenttype`
  * envelopes (`README.md:315`). Each puts a spec clause the engine
  * previously only implemented implicitly under the DuckDB oracle.
  */
object SpecOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // UUIDv6 ids (README.md:156-157): build time-ordered UUIDv6 event ids
    // from a simulated 3-writer feed (each writer's clock skewed ±250 ms —
    // the spec's multi-writer caveat), then audit per feed:
    //  - n_decode_mismatch: the 60-bit timestamp field decodes back to
    //    exactly the stamped time (codec round-trip; always 0);
    //  - n_id_order_mismatch: lexicographic id order ≡ stamped-time order
    //    (the property that makes a UUIDv6 string a valid feed cursor;
    //    always 0 — fixed-width big-endian hex);
    //  - n_true_inversions / max_reorder_us: how far id order diverges
    //    from TRUE event time under clock skew — the reorder window a
    //    consumer must buffer to restore wall-clock order, quantifying
    //    the spec's "might be a problem with multiple servers" caveat.
    // All math is exact 64-bit integer (µs ticks ×10), windows are
    // per-feed (partitioned) — nothing global touches data rows.
    "uuid6_time_order" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"))
        .withColumn("writer", col("user_id") % 3)
        .withColumn("stamped_us", col("ts_us") + (col("writer") - 1) * lit(250000L))
        .withColumn("uid", Uuid6.encode(col("stamped_us"), col("writer"),
          substring(md5(col("event_id").cast("string")), 1, 12)))
      val wU = Window.partitionBy("event_type").orderBy("uid")
      val wS = Window.partitionBy("event_type").orderBy("stamped_us", "uid")
      ev
        .withColumn("dec_ticks", Uuid6.decodeTicks(col("uid")))
        .withColumn("rn_uuid", row_number().over(wU))
        .withColumn("rn_stamped", row_number().over(wS))
        .withColumn("prev_true", lag(col("ts_us"), 1).over(wU))
        .withColumn("runmax_true",
          max(col("ts_us")).over(wU.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("dec_ticks") =!=
            (col("stamped_us") + lit(Uuid6.GregorianOffsetUs)) * 10, 1L)
            .otherwise(0L)).as("n_decode_mismatch"),
          sum(when(col("rn_uuid") =!= col("rn_stamped"), 1L).otherwise(0L))
            .as("n_id_order_mismatch"),
          sum(when(col("prev_true") > col("ts_us"), 1L).otherwise(0L))
            .as("n_true_inversions"),
          max(col("runmax_true") - col("ts_us")).as("max_reorder_us"))
        .orderBy("event_type")
    }),

    // CloudEvents extension attributes (README.md:318: "Further metadata
    // may be added, e.g. for traceability"): envelopes carry a W3C-style
    // `traceparent` (on ~2/3 of events — absence exercises the missing-key
    // path) and a `partitionkey` in the model's `extensions` map; the
    // relation round-trips through the TYPED Dataset[CloudEvent] surface
    // (proving the map survives the product encoder exactly like it
    // survives the DSv2 wire — HttpSourceSuite covers the wire half),
    // then per event type: trace coverage, distinct traces, the
    // lexicographically first trace id, and partition-key cardinality.
    // All extension values are md5-derived strings — deterministic in any
    // engine.
    "feed_trace_extension" -> ((s, d) => {
      val tp = concat(lit("00-"), md5(col("event_id").cast("string")), lit("-"),
        substring(md5(concat(lit("span:"), col("event_id").cast("string"))), 1, 16),
        lit("-01"))
      val ext = map_filter(
        map(lit("partitionkey"), col("user_id").cast("string"),
          lit("traceparent"), when(col("event_id") % 3 =!= 0, tp)),
        (_, v) => v.isNotNull)
      graft.model.CloudEvent.fromEvents(Tables.events(s, d), extensions = ext)
        .toDF()
        .select(col("type"),
          element_at(col("extensions"), "traceparent").as("tp"),
          element_at(col("extensions"), "partitionkey").as("pk"))
        .groupBy("type")
        .agg(count(lit(1)).as("n_events"),
          count(col("tp")).as("n_traced"),
          countDistinct(col("tp")).as("n_traces"),
          min(col("tp")).as("min_trace"),
          countDistinct(col("pk")).as("n_partitions"))
        .orderBy("type")
    }),

    // Non-JSON datacontenttype (README.md:315): a mixed feed where some
    // envelopes carry binary payloads (base64 data, octet-stream media
    // type) or plain text instead of the JSON default; route by media
    // type and aggregate — payload size measured on the DECODED bytes
    // (unbase64 for binary), so the base64 round-trip itself is under
    // the oracle, and max(data) pins the base64 ENCODING cross-engine.
    "feed_content_type_route" -> ((s, d) => {
      val env = Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        when(col("user_id") % 4 === 0, lit("application/octet-stream"))
          .when(col("user_id") % 4 === 1, lit("text/plain"))
          .otherwise(lit("application/json")).as("datacontenttype"),
        when(col("user_id") % 4 === 0, base64(col("props").cast("binary")))
          .otherwise(col("props")).as("data"))
      env.groupBy("datacontenttype")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("datacontenttype") === "application/octet-stream",
            octet_length(unbase64(col("data"))))
            .otherwise(octet_length(col("data"))).cast("long")).as("payload_bytes"),
          countDistinct(col("user_id")).as("n_subjects"),
          max(col("data")).as("max_data"))
        .orderBy("datacontenttype")
    }),

    // Merkle page manifest (the integrity structure the spec's immutable
    // cacheable pages make possible, README.md:148-159 + 330-332): level-0
    // page digests (md5 over the id-ordered id list, as feed_page_manifest),
    // 16 pages roll up into one level-1 digest (order carried by the
    // (page, digest) struct sort — no global window), and the level-1
    // digests fold into ONE root. A consumer re-verifies any single page
    // against the root with log₁₆(n) digests instead of re-hashing the
    // feed — the audit shape that matters at 100 TB. Root joins back as a
    // 1-row broadcast (allowlisted BNLJ-by-design).
    "feed_manifest_merkle" -> ((s, d) => {
      val pages = Tables.events(s, d).filter(col("event_id") < 20000)
        .groupBy(expr("event_id div 100").as("page"))
        .agg(count(lit(1)).as("n"),
          md5(array_join(transform(array_sort(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("pd"))
      val l1 = pages.groupBy(expr("page div 16").as("bucket"))
        .agg(count(lit(1)).as("n_pages"), sum(col("n")).as("n_events"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("page"), col("pd")))),
            x => x.getField("pd")), ",")).as("digest1"))
      val root = l1.agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("bucket"), col("digest1")))),
        x => x.getField("digest1")), ",")).as("root"))
      l1.crossJoin(broadcast(root)).orderBy("bucket")
    }),

    // Deletion-latency audit (spec DELETE method + compaction,
    // `README.md:180-267`): for every subject that was tombstoned
    // (event_type='error' ≙ DELETE in the fixture mapping), the gap
    // between its last state-bearing event and the tombstone — the
    // "right-to-be-forgotten" lag a compliance review reads — plus
    // subjects whose tombstone arrived with no prior state. Two keyed
    // aggregates and one join; exact integer microseconds.
    "feed_delete_latency" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val firstDel = ev.filter(col("event_type") === "error")
        .groupBy("user_id").agg(min("ts_us").as("terr"))
      val lastPut = ev.filter(col("event_type") =!= "error")
        .join(firstDel, "user_id")
        .filter(col("ts_us") < col("terr"))
        .groupBy("user_id").agg(max("ts_us").as("tput"))
      firstDel.join(lastPut, Seq("user_id"), "left")
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n_deleted"),
          sum(when(col("tput").isNull, 1L).otherwise(0L)).as("n_no_prior"),
          sum(col("terr") - col("tput")).as("sum_latency_us"),
          min(col("terr") - col("tput")).as("min_latency_us"),
          max(col("terr") - col("tput")).as("max_latency_us"))
        .orderBy("user_bucket")
    }),

    // Feed-ordering conformance audit (README.md:9, 150-151: responses
    // chronological, ids strongly ordered): per feed, walk the id order
    // and count timestamp INVERSIONS (an event whose time precedes an
    // earlier id's time) and the worst backwards jump — the continuous
    // monitor a consumer runs to detect a producer violating the
    // ordering contract (clock skew, buggy sequencer). Windows are
    // per-feed (partitioned by type); exact integer µs.
    "feed_order_violation_audit" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("event_id")
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"))
        .withColumn("pmax", max(col("ts_us"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("ts_us") < col("pmax"), 1L).otherwise(0L))
            .as("n_inversions"),
          max(when(col("ts_us") < col("pmax"), col("pmax") - col("ts_us")))
            .as("max_back_us"))
        .orderBy("event_type")
    }),

    // Equi-depth backfill partition plan for the DSv2 source: split the
    // feed's id space into 8 cursor ranges carrying ~equal EVENT counts
    // (not equal id spans — skewed feeds balance by depth), derived from
    // the page histogram the way a 1000-executor backfill planner would.
    // The one global window runs over the PAGE-histogram relation
    // (bounded: |feed| / page size rows), never event rows — the 2-pass
    // global-rank discipline.
    // Sequence-arithmetic backfill split (round 15; the O(log feed)
    // planner of `HttpFeedBackfill.partitions` as a relational operator):
    // for sequence-prefixed ids (README.md:159) the N=8 partition bounds
    // need only min/max — bound(i) = lo + span·i div 8 — NO page
    // histogram, no pass over the id space. The query then AUDITS the
    // plan against the data: each event maps to its bucket by the exact
    // integer inverse pno = ((e−lo)·8 + span − 1) div span, and the
    // output carries per-bucket depth plus the synthesized `lpad(seq)::`
    // boundary cursors a consumer would put on the wire (legal for
    // absent ids, README.md:153-154). Coverage/disjointness/balance laws
    // in SpecOpsSuite; contrast with `feed_backfill_partition_plan`,
    // which plans equi-DEPTH from the page histogram when ids are opaque.
    // Scale shape: one map-side-combinable min/max aggregate + a
    // broadcast scalar + map-only bucket assignment + an 8-group
    // aggregate — data rows never meet a window or a sort.
    "feed_backfill_seq_plan" -> ((s, d) => {
      val n = 8
      val ev = Tables.events(s, d).select(col("event_id"))
      val mm = ev.agg((min("event_id") - 1).as("lo_seq"),
        (max("event_id") - min("event_id") + 1).as("span"))
      ev.crossJoin(broadcast(mm))
        .withColumn("pno",
          expr(s"((event_id - lo_seq) * $n + span - 1) div span"))
        .groupBy("pno", "lo_seq", "span")
        .agg(count(lit(1)).as("n_events"),
          min("event_id").as("first_id"), max("event_id").as("last_id"))
        .withColumn("bound_lo", expr(s"lo_seq + (span * (pno - 1)) div $n"))
        .withColumn("bound_hi", expr(s"lo_seq + (span * pno) div $n"))
        .withColumn("cursor_start",
          concat(lpad((col("bound_lo") + 1).cast("string"), 13, "0"), lit("::")))
        .withColumn("cursor_end",
          concat(lpad((col("bound_hi") + 1).cast("string"), 13, "0"), lit("::")))
        .select(col("pno"), col("n_events"), col("first_id"), col("last_id"),
          col("bound_lo"), col("bound_hi"), col("cursor_start"), col("cursor_end"))
        .orderBy("pno")
    }),

    "feed_backfill_partition_plan" -> ((s, d) => {
      val pages = Tables.events(s, d)
        .groupBy(expr("event_id div 100").as("page"))
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"))
      val wH = Window.orderBy("page")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wT = Window.partitionBy()
      pages
        .withColumn("cumb", coalesce(sum("n").over(wH), lit(0L)))
        .withColumn("tot", sum("n").over(wT))
        .withColumn("pno", expr("(cumb * 8) div tot"))
        .groupBy("pno")
        .agg(count(lit(1)).as("n_pages"), sum(col("n")).as("n_events"),
          min("min_id").as("start_id"), max("max_id").as("end_id"))
        .orderBy("pno")
    })
  )

  def oracles: Map[String, String] = Map(
    "feed_trace_extension" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    CASE WHEN event_id % 3 <> 0 THEN
        |      '00-' || md5(CAST(event_id AS VARCHAR)) || '-' ||
        |      substr(md5('span:' || CAST(event_id AS VARCHAR)), 1, 16) || '-01'
        |    END AS tp
        |  FROM events)
        |SELECT event_type AS type, count(*) AS n_events,
        |  count(tp) AS n_traced,
        |  CAST(count(DISTINCT tp) AS BIGINT) AS n_traces,
        |  min(tp) AS min_trace,
        |  CAST(count(DISTINCT CAST(user_id AS VARCHAR)) AS BIGINT) AS n_partitions
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,

    "uuid6_time_order" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id % 3 AS writer,
        |             event_type,
        |             epoch_us(ts) + ((user_id % 3) - 1) * 250000 AS stamped_us
        |           FROM events),
        |u AS (SELECT *,
        |        lower(lpad(to_hex(((stamped_us + 12219292800000000) * 10) >> 28), 8, '0'))
        |        || '-' ||
        |        lower(lpad(to_hex((((stamped_us + 12219292800000000) * 10) >> 12) & 65535), 4, '0'))
        |        || '-6' ||
        |        lower(lpad(to_hex(((stamped_us + 12219292800000000) * 10) & 4095), 3, '0'))
        |        || '-' ||
        |        lower(lpad(to_hex(32768 | writer), 4, '0'))
        |        || '-' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12) AS uid
        |      FROM e),
        |dec AS (SELECT *,
        |          CAST('0x' || substr(uid, 1, 8) AS BIGINT) * 268435456
        |          + CAST('0x' || substr(uid, 10, 4) AS BIGINT) * 4096
        |          + CAST('0x' || substr(uid, 16, 3) AS BIGINT) AS dec_ticks
        |        FROM u),
        |w AS (SELECT *,
        |        row_number() OVER (PARTITION BY event_type ORDER BY uid) AS rn_uuid,
        |        row_number() OVER (PARTITION BY event_type ORDER BY stamped_us, uid) AS rn_stamped,
        |        lag(ts_us) OVER (PARTITION BY event_type ORDER BY uid) AS prev_true,
        |        max(ts_us) OVER (PARTITION BY event_type ORDER BY uid
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax_true
        |      FROM dec)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN dec_ticks <> (stamped_us + 12219292800000000) * 10
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_decode_mismatch,
        |  CAST(sum(CASE WHEN rn_uuid <> rn_stamped THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_id_order_mismatch,
        |  CAST(sum(CASE WHEN prev_true > ts_us THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_true_inversions,
        |  max(runmax_true - ts_us) AS max_reorder_us
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    "feed_content_type_route" ->
      """WITH env AS (SELECT event_id, user_id,
        |  CASE WHEN user_id % 4 = 0 THEN 'application/octet-stream'
        |       WHEN user_id % 4 = 1 THEN 'text/plain'
        |       ELSE 'application/json' END AS datacontenttype,
        |  CASE WHEN user_id % 4 = 0 THEN to_base64(encode(props))
        |       ELSE props END AS data
        |  FROM events)
        |SELECT datacontenttype, count(*) AS n_events,
        |  CAST(sum(CASE WHEN datacontenttype = 'application/octet-stream'
        |    THEN octet_length(from_base64(data))
        |    ELSE octet_length(encode(data)) END) AS BIGINT) AS payload_bytes,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_subjects,
        |  max(data) AS max_data
        |FROM env GROUP BY datacontenttype ORDER BY datacontenttype""".stripMargin,

    "feed_manifest_merkle" ->
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

    "feed_delete_latency" ->
      """WITH fd AS (SELECT user_id, min(epoch_us(ts)) AS terr
        |  FROM events WHERE event_type = 'error' GROUP BY user_id),
        |lp AS (SELECT e.user_id, max(epoch_us(e.ts)) AS tput
        |  FROM events e JOIN fd ON e.user_id = fd.user_id
        |  WHERE e.event_type <> 'error' AND epoch_us(e.ts) < fd.terr
        |  GROUP BY e.user_id)
        |SELECT fd.user_id % 10 AS user_bucket, count(*) AS n_deleted,
        |  CAST(sum(CASE WHEN lp.tput IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_prior,
        |  CAST(sum(fd.terr - lp.tput) AS BIGINT) AS sum_latency_us,
        |  min(fd.terr - lp.tput) AS min_latency_us,
        |  max(fd.terr - lp.tput) AS max_latency_us
        |FROM fd LEFT JOIN lp ON fd.user_id = lp.user_id
        |GROUP BY 1 ORDER BY user_bucket""".stripMargin,

    "feed_order_violation_audit" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT *, max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN us < pmax THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inversions,
        |  max(CASE WHEN us < pmax THEN pmax - us END) AS max_back_us
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,

    "feed_backfill_seq_plan" ->
      """WITH mm AS (SELECT min(event_id) - 1 AS lo_seq,
        |    max(event_id) - min(event_id) + 1 AS span FROM events),
        |e AS (SELECT event_id, lo_seq, span,
        |    ((event_id - lo_seq) * 8 + span - 1) // span AS pno
        |  FROM events, mm),
        |g AS (SELECT pno, lo_seq, span,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    min(event_id) AS first_id, max(event_id) AS last_id
        |  FROM e GROUP BY 1, 2, 3),
        |b AS (SELECT pno, n_events, first_id, last_id,
        |    CAST(lo_seq + (span * (pno - 1)) // 8 AS BIGINT) AS bound_lo,
        |    CAST(lo_seq + (span * pno) // 8 AS BIGINT) AS bound_hi
        |  FROM g)
        |SELECT pno, n_events, first_id, last_id, bound_lo, bound_hi,
        |  lpad(CAST(bound_lo + 1 AS VARCHAR), 13, '0') || '::' AS cursor_start,
        |  lpad(CAST(bound_hi + 1 AS VARCHAR), 13, '0') || '::' AS cursor_end
        |FROM b ORDER BY pno""".stripMargin,

    "feed_backfill_partition_plan" ->
      """WITH p AS (SELECT event_id // 100 AS page, count(*) AS n,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM events GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(coalesce(sum(n) OVER (ORDER BY page
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
        |    CAST(sum(n) OVER () AS BIGINT) AS tot
        |  FROM p)
        |SELECT (cumb * 8) // tot AS pno, count(*) AS n_pages,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  min(min_id) AS start_id, max(max_id) AS end_id
        |FROM c GROUP BY 1 ORDER BY pno""".stripMargin
  )
}
