package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** §2.46 (cont.) activity accounting & dynamic pruning (added round 6):
  * DAU/WAU/MAU rolling actives, rolling cross-series correlation, and a
  * dynamic-partition-pruning join with an in-query plan gate.
  *
  * Scale shapes (100 TB notes):
  *  - active_users_dau_wau: the rolling-window membership is computed by
  *    EXPLODING each (user, day) into the ≤30 report days it supports —
  *    map-side fan-out of the distinct relation, then plain count
  *    distinct per (report day, window) — never a range join of the
  *    activity relation against the calendar.
  *  - ts_rolling_correlation: all windowed moments run over the
  *    calendar-day series (bounded), integer-exact until the final
  *    canonized ratio.
  *  - join_dpp_prune: the selective dimension filter reaches the FACT
  *    scan at runtime as a dynamicpruning expression on the partition
  *    column — scanning 2 of 5 partitions; the query REQUIRES the
  *    expression in its own plan, so a regression that silently reads
  *    everything fails correctness, not just perf.
  */
object ActiveOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Rolling active users per calendar day: DAU (that day), WAU
    // (trailing 7), MAU (trailing 30). Each (user, day) active pair
    // supports days day..day+6 (WAU) and day..day+29 (MAU): explode,
    // then count distinct per report day — the scalable rolling-distinct
    // shape (no range join, no per-day re-scan).
    "active_users_dau_wau" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      val dau = ud.groupBy("day").agg(count_distinct(col("user_id")).as("dau"))
      def rolling(span: Int, name: String): DataFrame = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + (span - 1))).as("day"))
        .join(days, "day") // only real calendar days report
        .groupBy("day").agg(count_distinct(col("user_id")).as(name))
      dau.join(rolling(7, "wau"), "day").join(rolling(30, "mau"), "day")
        .orderBy("day")
    }),

    // Rolling 14-day Pearson correlation between the click and purchase
    // daily-count series: windowed integer moments over the calendar-day
    // relation, canon100 ratio, NULL until the window is full or when a
    // side is constant.
    "ts_rolling_correlation" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(expr("ts_us div 86400000000").as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val w = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
      daily
        .withColumn("nw", count(lit(1)).over(w))
        .withColumn("sx", sum("x").over(w)).withColumn("sy", sum("y").over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("syy", sum(col("y") * col("y")).over(w))
        .withColumn("sxy", sum(col("x") * col("y")).over(w))
        .withColumn("num", col("nw") * col("sxy") - col("sx") * col("sy"))
        .withColumn("da", col("nw") * col("sxx") - col("sx") * col("sx"))
        .withColumn("db", col("nw") * col("syy") - col("sy") * col("sy"))
        .select(col("day"), col("nw"),
          when(col("nw") === 14 && col("da") > 0 && col("db") > 0,
            floor(col("num").cast("double") /
              (sqrt(col("da").cast("double")) * sqrt(col("db").cast("double")))
              * lit(100.0)).cast("long")).as("r_c"))
        .orderBy("day")
    }),

    // Rolling z-score of each type's daily count against its OWN
    // trailing 14 days (current day excluded — the alert must not
    // normalize against itself): z·100 = (x·n − Σx)·100 /
    // √(n·Σx² − (Σx)²), exact integer moments under the radical,
    // one identical-parse-tree float at the end. NULL until the
    // trailing window fills or when it is constant.
    "ts_rolling_zscore" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-14, -1)
      daily
        .withColumn("nw", count(lit(1)).over(w))
        .withColumn("sx", sum("x").over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("da", col("nw") * col("sxx") - col("sx") * col("sx"))
        .select(col("event_type"), col("day"), col("x"), col("nw"),
          when(col("nw") === 14 && col("da") > 0,
            floor((col("x") * col("nw") - col("sx")).cast("double") /
              sqrt(col("da").cast("double")) * lit(100.0)).cast("long"))
            .as("z_c"))
        .orderBy("event_type", "day")
    }),

    // Stationary distribution of the event-type Markov chain: per-user
    // lag-1 transitions build the |types|² matrix, then 4 unrolled power
    // steps π′_j = Σ_i ⌊π_i·c_ij / c_i⌋ from the uniform start — every
    // term integer (quantize-before-sum), the whole iteration over the
    // 25-cell relation.
    "markov_stationary_step" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tm = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("j"))
        .withColumn("i", lag(col("j"), 1).over(w))
        .filter(col("i").isNotNull)
        .groupBy("i", "j").agg(count(lit(1)).as("c"))
      val rowTot = tm.groupBy("i").agg(sum("c").as("ci"))
      val m = tm.join(rowTot, "i").localCheckpoint() // iterated 4×
      val nTypes = m.select("i").distinct().count()
      var pi = m.select(col("i").as("t")).distinct()
        .withColumn("p", lit(1000000L / nTypes))
      for (_ <- 1 to 4) {
        pi = m.join(pi.withColumnRenamed("t", "i"), "i")
          .select(col("j"), expr("(p * c) div ci").as("term"))
          .groupBy(col("j").as("t")).agg(sum("term").as("p"))
      }
      pi.select(col("t").as("event_type"), col("p").as("pi_ppm"))
        .orderBy("event_type")
    }),

    // Entropy rate of the user-journey Markov chain: per FROM-state the
    // transition entropy H_i = Σ_j −p_ij·ln p_ij (the predictability of
    // the next step), each term floor-quantized to 1e-9 BEFORE the
    // integer sum (the JS-divergence discipline), alongside the
    // stationary weight after one power-iteration step from uniform —
    // the π_i·H_i pieces of the chain's entropy rate Σπ_iH_i, the
    // journey-predictability number a personalization team tracks. The
    // ln ratio is CAST-to-double (never a bare 1.0 literal: DECIMAL
    // division rounds differently); transition tables are |types|².
    "events_markov_entropy" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tm = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("j"))
        .withColumn("i", lag(col("j"), 1).over(w))
        .filter(col("i").isNotNull)
        .groupBy("i", "j").agg(count(lit(1)).as("c"))
      val rowTot = tm.groupBy("i").agg(sum("c").as("ci"))
      val m = tm.join(rowTot, "i").localCheckpoint() // H terms + π step
      val p = col("c").cast("double") / col("ci").cast("double")
      val hRows = m
        .withColumn("h_term",
          floor(-p * log(p) * lit(1000000000.0)).cast("long"))
        .groupBy(col("i").as("event_type"))
        .agg(max(col("ci")).as("n_out"), sum(col("h_term")).as("h_c"))
      val k = m.select("i").distinct().count()
      val pi1 = m
        .select(col("j"), expr(s"((1000000 div $k) * c) div ci").as("term"))
        .groupBy(col("j").as("event_type")).agg(sum("term").as("pi1_ppm"))
      hRows.join(pi1, Seq("event_type")).orderBy("event_type")
    }),

    // Schema evolution on read: two parquet file generations (v2 adds a
    // column) read together with mergeSchema — v1 rows surface NULL for
    // the new column, and the per-generation aggregates must equal the
    // direct computation. The contract every long-lived lakehouse table
    // depends on.
    "source_schema_evolution" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).cast("long").as("qty"), col("l_returnflag"))
      val scratch = graft.api.QueryHygiene.scratchDir("graft_schevo", inMemory = false)
      base.filter(expr("l_orderkey % 100 = 0"))
        .drop("l_returnflag") // generation 1: no flag column yet
        .write.mode("overwrite").parquet(s"$scratch/g1")
      base.filter(expr("l_orderkey % 100 = 50"))
        .write.mode("overwrite").parquet(s"$scratch/g2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$scratch/g1", s"$scratch/g2")
        .groupBy(when(col("l_returnflag").isNull, "v1").otherwise("v2")
          .as("generation"))
        .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"),
          count_distinct(col("l_returnflag")).as("n_flags"))
        .orderBy("generation")
    }),

    // Dynamic partition pruning end-to-end: the bounded event window
    // written partitioned by event_type, joined against a FILTERED
    // 2-row dimension — the runtime must push the dim's filter into the
    // fact scan as a dynamicpruning expression (2 of 5 directories
    // read). The plan gate is part of the query contract.
    "join_dpp_prune" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("event_id") < 20000)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 10000).cast("long").as("v_c"))
      val scratch = graft.api.QueryHygiene.scratchDir("graft_dpp", inMemory = false)
      ev.write.mode("overwrite").partitionBy("event_type").parquet(scratch)
      val fact = s.read.parquet(scratch)
      val dim = Tables.events(s, d).select(col("event_type")).distinct()
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("weight", length(col("event_type")).cast("long"))
      val joined = fact.join(dim, "event_type")
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruning"),
        "the dimension filter must reach the fact scan as a runtime partition filter")
      joined.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("v_c").as("val_c"),
          first("weight").as("weight"))
        .orderBy("event_type")
    })
  )

  def oracles: Map[String, String] = Map(
    "active_users_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000
        |    AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |w7 AS (SELECT t.day, count(DISTINCT ud.user_id) AS wau
        |  FROM days t JOIN ud ON ud.day BETWEEN t.day - 6 AND t.day
        |  GROUP BY 1),
        |w30 AS (SELECT t.day, count(DISTINCT ud.user_id) AS mau
        |  FROM days t JOIN ud ON ud.day BETWEEN t.day - 29 AND t.day
        |  GROUP BY 1)
        |SELECT dau.day, dau.dau, w7.wau, w30.mau
        |FROM dau JOIN w7 ON dau.day = w7.day JOIN w30 ON dau.day = w30.day
        |ORDER BY dau.day""".stripMargin,

    "ts_rolling_correlation" ->
      """WITH dly AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |m AS (SELECT day, count(*) OVER w AS nw,
        |    CAST(sum(x) OVER w AS BIGINT) AS sx,
        |    CAST(sum(y) OVER w AS BIGINT) AS sy,
        |    CAST(sum(x*x) OVER w AS BIGINT) AS sxx,
        |    CAST(sum(y*y) OVER w AS BIGINT) AS syy,
        |    CAST(sum(x*y) OVER w AS BIGINT) AS sxy
        |  FROM dly WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT day, nw,
        |  CASE WHEN nw = 14 AND nw*sxx - sx*sx > 0 AND nw*syy - sy*sy > 0
        |    THEN CAST(floor(CAST(nw*sxy - sx*sy AS DOUBLE) /
        |      (sqrt(CAST(nw*sxx - sx*sx AS DOUBLE)) *
        |       sqrt(CAST(nw*syy - sy*sy AS DOUBLE))) * 100.0) AS BIGINT)
        |    ELSE NULL END AS r_c
        |FROM m ORDER BY day""".stripMargin,

    "ts_rolling_zscore" ->
      """WITH dly AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, day, x,
        |    count(*) OVER w AS nw,
        |    CAST(sum(x) OVER w AS BIGINT) AS sx,
        |    CAST(sum(x*x) OVER w AS BIGINT) AS sxx
        |  FROM dly WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, x, nw,
        |  CASE WHEN nw = 14 AND nw*sxx - sx*sx > 0
        |    THEN CAST(floor(CAST(x * nw - sx AS DOUBLE) /
        |      sqrt(CAST(nw*sxx - sx*sx AS DOUBLE)) * 100.0) AS BIGINT)
        |    ELSE NULL END AS z_c
        |FROM m ORDER BY event_type, day""".stripMargin,

    "events_markov_entropy" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type AS j
        |  FROM events),
        |l AS (SELECT *, lag(j) OVER (PARTITION BY user_id ORDER BY us, event_id) AS i
        |  FROM e),
        |tm AS (SELECT i, j, count(*) AS c FROM l WHERE i IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT i, CAST(sum(c) AS BIGINT) AS ci FROM tm GROUP BY 1),
        |m AS (SELECT tm.i, tm.j, tm.c, rt.ci FROM tm JOIN rt ON tm.i = rt.i),
        |k AS (SELECT count(DISTINCT i) AS k FROM m),
        |h AS (SELECT i AS event_type, max(ci) AS n_out,
        |    CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / CAST(ci AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(ci AS DOUBLE)) * 1000000000.0)
        |      AS BIGINT)) AS BIGINT) AS h_c
        |  FROM m GROUP BY 1),
        |p1 AS (SELECT j AS event_type,
        |    CAST(sum(((1000000 // k) * c) // ci) AS BIGINT) AS pi1_ppm
        |  FROM m, k GROUP BY 1)
        |SELECT h.event_type, h.n_out, h.h_c, p1.pi1_ppm
        |FROM h JOIN p1 ON h.event_type = p1.event_type
        |ORDER BY h.event_type""".stripMargin,

    "markov_stationary_step" -> {
      val steps = (1 to 4).map { k =>
        s"""p$k AS (SELECT m.j AS t,
           |    CAST(sum((p${k - 1}.p * m.c) // m.ci) AS BIGINT) AS p
           |  FROM m JOIN p${k - 1} ON m.i = p${k - 1}.t GROUP BY 1)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type AS j FROM events),
        |l AS (SELECT *, lag(j) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS i FROM e),
        |tm AS (SELECT i, j, count(*) AS c FROM l
        |  WHERE i IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT i, CAST(sum(c) AS BIGINT) AS ci FROM tm GROUP BY 1),
        |m AS (SELECT tm.i, tm.j, tm.c, rt.ci FROM tm JOIN rt ON tm.i = rt.i),
        |nt AS (SELECT count(DISTINCT i) AS n FROM m),
        |p0 AS (SELECT DISTINCT i AS t, CAST(1000000 // nt.n AS BIGINT) AS p
        |  FROM m, nt),
        |$steps
        |SELECT t AS event_type, p AS pi_ppm FROM p4
        |ORDER BY event_type""".stripMargin
    },

    "source_schema_evolution" ->
      """WITH b AS (SELECT l_orderkey,
        |    CAST(floor(l_quantity) AS BIGINT) AS qty, l_returnflag
        |  FROM lineitem),
        |u AS (SELECT 'v1' AS generation, qty, NULL AS flag FROM b
        |    WHERE l_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 'v2', qty, l_returnflag FROM b WHERE l_orderkey % 100 = 50)
        |SELECT generation, count(*) AS n, CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(count(DISTINCT flag) AS BIGINT) AS n_flags
        |FROM u GROUP BY 1 ORDER BY generation""".stripMargin,

    "join_dpp_prune" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS val_c,
        |  CAST(length(event_type) AS BIGINT) AS weight
        |FROM events
        |WHERE event_id < 20000 AND event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
