package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.io.Tables

/** §2.32 governance, fuzzy matching & source formats — k-anonymity
  * auditing of quasi-identifiers, retention-sweep planning, blocked
  * edit-distance pairing (both engines implement the classic Levenshtein
  * DP, so the integer distances agree exactly), and a CSV/JSON/parquet
  * round-trip proving schema-on-read consistency across formats.
  *
  * Scale shapes (100 TB notes):
  *  - k_anonymity_check: one aggregate over the quasi-identifier combos
  *    (value-bounded: |nations|×|segments|×|balance bands|); the global
  *    k level is a window over that combo relation, never data.
  *  - retention_sweep_plan: the cutoff derives from the calendar-sized
  *    daily relation; the sweep itself is conditional sums per type.
  *  - edit_distance_pairs: candidates are blocked on (lang, first token,
  *    length band) — pair volume is Σ|block|², never |corpus|²; the
  *    60-char prefix caps the DP cost per pair.
  *  - source_formats_roundtrip: the bounded sample is written to CSV and
  *    JSON once (scratch dir) and read back with an explicit schema —
  *    the schema-on-read contract; aggregate parity across all three
  *    formats is the check.
  */
object GovernOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // k-anonymity audit over the customer quasi-identifiers
    // (nation, market segment, account-balance band of 1000): every
    // combo with fewer than 5 members is a re-identification risk row;
    // k_anon carries the global minimum group size alongside.
    "k_anonymity_check" -> ((s, d) => {
      val combos = Tables.customer(s, d)
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"),
          expr("cast(floor(c_acctbal) as bigint) div 1000").as("bal_band"))
        .agg(count(lit(1)).as("n"))
      combos
        .withColumn("k_anon", min("n").over(Window.partitionBy()))
        .filter(col("n") < 5)
        .select("nation", "segment", "bal_band", "n", "k_anon")
        .orderBy("nation", "segment", "bal_band")
    }),

    // Retention-sweep plan: cutoff = max event day − 21; per type, the
    // rows the sweep would purge vs retain and the purged share (ppm) —
    // the dry-run every retention job runs before deleting.
    "retention_sweep_plan" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      daily
        .withColumn("cutoff",
          max("day").over(Window.partitionBy()) - lit(21L))
        .groupBy("event_type")
        .agg(sum(when(col("day") < col("cutoff"), col("x")).otherwise(0L))
            .as("n_purge"),
          sum(when(col("day") >= col("cutoff"), col("x")).otherwise(0L))
            .as("n_retain"))
        .withColumn("purge_ppm",
          expr("(n_purge * 1000000) div (n_purge + n_retain)"))
        .select("event_type", "n_purge", "n_retain", "purge_ppm")
        .orderBy("event_type")
    }),

    // Blocked edit-distance pairing: candidates share (lang, first
    // token, n_chars div 50); Levenshtein over the 60-char prefix ≤ 30
    // emits a pair. Both engines implement the same DP, so the integer
    // distance matches exactly.
    "edit_distance_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        col("lang"), expr("n_chars div 50").as("band"),
        split(col("text"), " ").getItem(0).as("tok0"),
        substring(col("text"), 1, 60).as("prefix"))
      val a = docs.select(col("doc_id").as("a"), col("lang"), col("band"),
        col("tok0"), col("prefix").as("pa"))
      val b = docs.select(col("doc_id").as("b"), col("lang"), col("band"),
        col("tok0"), col("prefix").as("pb"))
      a.join(b, Seq("lang", "band", "tok0"))
        .filter(col("a") < col("b"))
        .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("long"))
        .filter(col("dist") <= 30)
        .select("a", "b", "dist")
        .orderBy("a", "b")
    }),

    // Hive-style partitioned write + pruned read-back: the bounded event
    // window written `partitionBy(event_type)` to scratch parquet, then
    // (a) a single-type read REQUIRED to show PartitionFilters in its
    // scan (the layout actually prunes — directories, not data, get
    // skipped), and (b) the full read-back aggregated per type and
    // checked against the direct-scan oracle. This is the ingest-time
    // layout job join_bucketed proved for bucketing, applied to
    // partition pruning.
    "write_partitioned_roundtrip" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("event_id") < 20000)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 10000).cast("long").as("v_c"))
      val scratch = graft.api.QueryHygiene.scratchDir("graft_partwrite", inMemory = false)
      ev.write.mode("overwrite").partitionBy("event_type").parquet(scratch)
      val back = s.read.parquet(scratch)
      val pruned = back.filter(col("event_type") === "click")
      val plan = pruned.queryExecution.executedPlan.toString
      require("PartitionFilters: \\[[^\\]]*event_type".r
          .findFirstIn(plan).isDefined,
        "single-type read must push the partition filter to the scan")
      back.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("v_c").as("val_c"))
        .orderBy("event_type")
    }),

    // Cross-format schema-on-read parity: a bounded lineitem sample
    // written once to CSV and JSON (scratch dir), read back with the
    // explicit schema, and aggregated identically to the parquet
    // original — per format: rows, Σ quantity (canon), distinct flags.
    "source_formats_roundtrip" -> ((s, d) => {
      val sample = Tables.lineitem(s, d)
        .filter(expr("l_orderkey % 100 = 0"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
      val scratch = graft.api.QueryHygiene.scratchDir("graft_formats", inMemory = false)
      sample.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$scratch/csv")
      sample.coalesce(1).write.mode("overwrite").json(s"$scratch/json")
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_returnflag", StringType)))
      def stats(df: DataFrame, fmt: String) =
        df.agg(lit(fmt).as("format"), count(lit(1)).as("n"),
          sum(Tables.canon(col("l_quantity"))).as("sum_qty_c"),
          count_distinct(col("l_returnflag")).as("n_flags"))
      stats(s.read.schema(schema).option("header", "true")
          .csv(s"$scratch/csv"), "csv")
        .unionByName(stats(s.read.schema(schema).json(s"$scratch/json"),
          "json"))
        .unionByName(stats(sample, "parquet"))
        .orderBy("format")
    })
  )

  def oracles: Map[String, String] = Map(
    "k_anonymity_check" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    c_mktsegment AS segment,
        |    CAST(floor(c_acctbal) AS BIGINT) // 1000 AS bal_band,
        |    count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |w AS (SELECT *, CAST(min(n) OVER () AS BIGINT) AS k_anon FROM c)
        |SELECT nation, segment, bal_band, n, k_anon
        |FROM w WHERE n < 5 ORDER BY nation, segment, bal_band""".stripMargin,

    "retention_sweep_plan" ->
      """WITH dly AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT *, CAST(max(day) OVER () AS BIGINT) - 21 AS cutoff
        |  FROM dly),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN day < cutoff THEN x ELSE 0 END) AS BIGINT)
        |      AS n_purge,
        |    CAST(sum(CASE WHEN day >= cutoff THEN x ELSE 0 END) AS BIGINT)
        |      AS n_retain
        |  FROM w GROUP BY 1)
        |SELECT event_type, n_purge, n_retain,
        |  (n_purge * 1000000) // (n_purge + n_retain) AS purge_ppm
        |FROM g ORDER BY event_type""".stripMargin,

    "edit_distance_pairs" ->
      """WITH dcs AS (SELECT doc_id, lang, n_chars // 50 AS band,
        |    str_split(text, ' ')[1] AS tok0, substr(text, 1, 60) AS prefix
        |  FROM documents)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
        |FROM dcs a JOIN dcs b ON a.lang = b.lang AND a.band = b.band
        |  AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.prefix, b.prefix) <= 30
        |ORDER BY a, b""".stripMargin,

    // partitioned write → read-back ≡ direct scan
    "write_partitioned_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS val_c
        |FROM events WHERE event_id < 20000
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // parity claim: all three formats land identical aggregates — the
    // oracle states the parquet truth three times
    "source_formats_roundtrip" ->
      """WITH s AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0),
        |a AS (SELECT count(*) AS n,
        |    CAST(sum(CAST(floor(l_quantity * 10000) AS BIGINT)) AS BIGINT)
        |      AS sum_qty_c,
        |    CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags
        |  FROM s)
        |SELECT 'csv' AS format, n, sum_qty_c, n_flags FROM a
        |UNION ALL SELECT 'json', n, sum_qty_c, n_flags FROM a
        |UNION ALL SELECT 'parquet', n, sum_qty_c, n_flags FROM a
        |ORDER BY format""".stripMargin
  )
}
