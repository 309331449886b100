package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** §2.28 robust statistics & a spectral step — the order-statistics
  * family beyond plain percentiles (weighted median, trimmed mean, Gini
  * concentration), each computed by the 2-PASS HISTOGRAM pattern (a
  * value-bucket aggregate, then windows over the bucket relation — never
  * a rank window over data rows), plus one exact-integer power-iteration
  * step (the distributed matvec pair behind every spectral method).
  *
  * Scale shapes (100 TB notes):
  *  - the three order-statistics operators aggregate data ONCE into a
  *    (group, value-bucket) histogram whose size is bounded by the value
  *    range, not the row count; every window is group-partitioned over
  *    that histogram. This is the same design win_ntile_dense proved:
  *    global order statistics without a global sort.
  *  - corr_spearman aggregates lineitem ONCE, into an (x, y) cell
  *    histogram; it is the only data-sized work (one partial aggregate),
  *    and every later step is cell- or value-sized. The cells are bounded
  *    by the TPC-H column domains at every scale factor —
  *    floor(l_quantity) ∈ [1, 50] and floor(l_extendedprice) div 100 ≤
  *    1049 — so there are ≤ ~52.5k cells and the all-pairs rank join
  *    holds ≤ 50² + 1050² pairs. The moment sums run in DECIMAL(38,0)
  *    with the operands promoted before the multiply: per cell
  *    c·r2′² ≤ N³ (|r2′| ≤ N), and so is each whole sum, which fits up
  *    to N ≈ 4.6·10¹² rows; ANSI decimal overflow fails loudly past that.
  *  - vec_power_iteration: s = Aᵀ(A·1) over canon(1e4)-quantized
  *    coordinates — both matvecs are map-side integer sums (per-row
  *    array fold, then a |dim|-cell aggregate), so the result is
  *    bit-exact in any engine and merge-order independent. The sum
  *    reaches n·maxᵢ|qᵢ|·10⁴ (past int64 from ~10⁹ rows), so it runs
  *    in DECIMAL(38,0) and casts back to BIGINT behind a loud named
  *    assert — a corpus whose s_j genuinely exceeds int64 fails the
  *    job with the message instead of wrapping (DuckDB's HUGEINT→
  *    BIGINT cast errors on the same boundary).
  */
object RobustOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Spearman rank correlation between quantity and price (bucketed to
    // hundreds of dollars): see [[spearman]].
    "corr_spearman" -> ((s, d) => spearman(Tables.lineitem(s, d))),

    // Weighted median unit price per return flag, weighted by quantity
    // units: smallest price bucket where twice the cumulative weight
    // reaches the total (the lower weighted median — integer compare,
    // no halves). Histogram = (flag, whole-dollar price) cells.
    "agg_weighted_median" -> ((s, d) => {
      val hist = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice")).cast("long").as("p"),
          floor(col("l_quantity")).cast("long").as("w"))
        .groupBy("l_returnflag", "p").agg(sum("w").as("wp"))
      val wg = Window.partitionBy("l_returnflag")
      val wc = Window.partitionBy("l_returnflag").orderBy("p")
      hist
        .withColumn("tw", sum("wp").over(wg))
        .withColumn("cw", sum("wp").over(wc))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("l_returnflag"), col("tw").as("total_w"))
        .agg(min("p").as("wmedian_price"))
        .select("l_returnflag", "total_w", "wmedian_price")
        .orderBy("l_returnflag")
    }),

    // Two-sided 10% trimmed mean unit price per return flag, from the
    // same histogram: keep ranks (n div 10, n − n div 10], each bucket
    // contributes its overlap with the kept range — integer cents
    // output, never a per-row rank.
    "agg_trimmed_mean" -> ((s, d) => {
      val hist = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice")).cast("long").as("p"))
        .groupBy("l_returnflag", "p").agg(count(lit(1)).as("c"))
      val wg = Window.partitionBy("l_returnflag")
      val wc = Window.partitionBy("l_returnflag").orderBy("p")
      hist
        .withColumn("n", sum("c").over(wg))
        .withColumn("cum", sum("c").over(wc))
        .withColumn("lo", expr("n div 10"))
        .withColumn("hi", col("n") - expr("n div 10"))
        .withColumn("ov", greatest(lit(0L),
          least(col("cum"), col("hi")) -
            greatest(col("cum") - col("c"), col("lo"))))
        .groupBy(col("l_returnflag"), (col("hi") - col("lo")).as("n_kept"))
        .agg(sum(col("p") * col("ov")).as("sp"))
        .withColumn("trimmed_mean_cents", expr("(sp * 100) div n_kept"))
        .select("l_returnflag", "n_kept", "trimmed_mean_cents")
        .orderBy("l_returnflag")
    }),

    // Gini concentration of whole-dollar order totals per priority,
    // tie-aware via DOUBLED midranks over the value histogram:
    // G_ppm = Σ_b c_b·(r2_b − n − 1)·v_b · 10⁶ div (n · Σ c·v).
    "agg_gini_index" -> ((s, d) => {
      val hist = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          floor(col("o_totalprice")).cast("long").as("v"))
        .groupBy("o_orderpriority", "v").agg(count(lit(1)).as("c"))
      val wg = Window.partitionBy("o_orderpriority")
      val wc = Window.partitionBy("o_orderpriority").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      hist
        .withColumn("n", sum("c").over(wg))
        .withColumn("sv", sum(col("c") * col("v")).over(wg))
        .withColumn("r2",
          lit(2L) * coalesce(sum("c").over(wc), lit(0L)) + col("c") + lit(1L))
        // the per-row product c·(r2−n−1)·v reaches n²·v (past int64
        // from ~4·10⁶ rows/group) and num·1e6 / n·sv pass 2^53 double
        // precision — so the whole ratio runs EXACT in DECIMAL(38,0)
        // on both engines (operands promoted before the multiply, the
        // corr_spearman discipline; good to ~10^16 rows/group, ANSI
        // decimal overflow fails loudly past that) and gini_ppm lands
        // back in BIGINT via integral `div`
        .groupBy(col("o_orderpriority"), col("n"), col("sv"))
        .agg(sum((col("c").cast("decimal(19,0)") *
            (col("r2") - col("n") - lit(1L)) * col("v"))
          .cast("decimal(38,0)")).as("num"))
        .withColumn("gini_ppm",
          expr("(num * 1000000) div (CAST(n AS DECIMAL(19,0)) * sv)"))
        .select("o_orderpriority", "n", "gini_ppm")
        .orderBy("o_orderpriority")
    }),

    // One exact-integer power-iteration step over the embedding matrix:
    // s = Aᵀ(A·1) on canon(1e4) coordinates — q_i = Σ_j x_c(i,j) is a
    // per-row array fold (map-side), s_j = Σ_i x_c(i,j)·q_i a |dim|-cell
    // aggregate. The dominant direction of the Gram matrix after one
    // step, bit-exact in both engines.
    "vec_power_iteration" -> ((s, d) => {
      val q = Tables.embeddings(s, d).select(col("vec_id"),
          col("embedding"),
          expr("aggregate(embedding, 0L, " +
            "(acc, x) -> acc + cast(floor(cast(x as double) * 10000) as bigint))")
            .as("q"))
      // per-row product ≤ 1e4·|q| ≤ ~6.4e9 (dim-bounded) stays long;
      // only the SUM can wrap, so it accumulates in decimal(38,0) and
      // comes back to long behind the loud guard above
      q.select(posexplode(col("embedding")).as(Seq("pos", "x")), col("q"))
        .groupBy(col("pos").cast("long").as("pos"))
        .agg(sum(expr("cast(cast(floor(cast(x as double) * 10000) as bigint)" +
            " * q as decimal(38,0))")).as("s_dec"))
        .select(col("pos"),
          (col("s_dec") + coalesce(assert_true(
              abs(col("s_dec")) < lit(9.2e18).cast("decimal(38,0)"),
              lit("vec_power_iteration: s_j exceeds int64 — emit s as" +
                " DECIMAL(38,0) at this corpus scale")).cast("decimal(38,0)"),
            lit(0).cast("decimal(38,0)"))).cast("long").as("s"))
        .orderBy("pos")
    }),

    // Kendall rank correlation between event types' daily activity: for
    // every type pair, concordant / discordant / tied day-pairs and
    // tau-a — the rank-dependence measure robust to any monotone
    // transform (Spearman's pairwise sibling). The day-pair relation is
    // CALENDAR² per type pair (grows with time, never with data rows —
    // the Theil–Sen discipline); concordance tests are pure integer
    // sign comparisons, tau floor-quantizes through one double ratio
    // (negative numerators ⇒ floor-of-ratio, never integer div).
    "eval_kendall_tau_daily" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("c"))
      val pair = daily.select(col("event_type").as("t1"), col("day"), col("c").as("c1"))
        .join(daily.select(col("event_type").as("t2"), col("day"), col("c").as("c2")),
          "day")
        .where(col("t1") < col("t2"))
      val a = pair.select(col("t1"), col("t2"), col("day").as("da"),
        col("c1").as("x1"), col("c2").as("y1"))
      val b = pair.select(col("t1"), col("t2"), col("day").as("db"),
        col("c1").as("x2"), col("c2").as("y2"))
      a.join(b, Seq("t1", "t2")).where(col("da") < col("db"))
        .withColumn("prod", (col("x2") - col("x1")) * (col("y2") - col("y1")))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("prod") > 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("prod") < 0, 1L).otherwise(0L)).as("nd"),
          sum(when(col("prod") === 0, 1L).otherwise(0L)).as("nt"))
        .withColumn("tau_c",
          floor((col("nc") - col("nd")) * lit(10000.0) / col("n_pairs")).cast("long"))
        .orderBy("t1", "t2")
    })
  )

  /** Spearman ρ between `floor(l_quantity)` and `floor(l_extendedprice)
    * div 100`, as `(n, rho_c)` with ρ floor-quantized to 10⁻⁴ (null when
    * either axis has no spread). Tie-aware CENTERED doubled midranks
    * r2′ = 2·cum_lt + nb − ntot: midranks sum to N(N+1)/2 exactly, so
    * Σr2′ = 0 and Pearson collapses to sxy/√(sxx·syy).
    *
    * The data is aggregated ONCE, into the (x, y) cell histogram `cells`;
    * everything after it is cell- or value-sized:
    *  - both marginals come off `cells` in one aggregate, stacked as
    *    (axis, v, nb);
    *  - both midrank maps come from one broadcast equi-join on `axis`
    *    (cum_lt = Σ nb₂ over smaller values, ntot = Σ nb₂). A null value
    *    counts in ntot and in no cum_lt, and has no rank itself, so a
    *    cell with a null coordinate drops out of the moments;
    *  - the rank table broadcasts back onto `cells` (stacked per axis)
    *    for the three c-weighted moment sums.
    * Scale bounds and decimal headroom: see the object header.
    */
  def spearman(lineitem: DataFrame): DataFrame = {
    val cells = lineitem.select(
        floor(col("l_quantity")).cast("long").as("x"),
        expr("CAST(floor(l_extendedprice) AS BIGINT) div 100").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
    // every cell once per axis, keyed by its value on that axis
    val byAxis = cells.select(col("x"), col("y"), col("c"),
      expr("stack(2, 0, x, 1, y)").as(Seq("axis", "v")))
    val marginals = byAxis.groupBy("axis", "v").agg(sum("c").as("nb"))
    val ranks = marginals
      .join(broadcast(marginals.select(col("axis"), col("v").as("v2"), col("nb").as("nb2"))),
        "axis")
      .groupBy("axis", "v", "nb")
      .agg(coalesce(sum(when(col("v2") < col("v"), col("nb2"))), lit(0L)).as("cum_lt"),
        sum("nb2").as("ntot"))
      .select(col("axis").as("ra"), col("v").as("rv"),
        when(col("v").isNotNull, lit(2L) * col("cum_lt") + col("nb") - col("ntot")).as("r2"))
    // (x, y) stays cells' partitioning through the stack and the
    // broadcast join, so regrouping the two ranks per cell needs no
    // shuffle. `<=>` keeps the optimizer from inferring `v IS NOT NULL`
    // into the rank join's streamed side: both sides then stay one
    // marginals exchange (a null value matches its own null rank).
    val ranked = byAxis.join(broadcast(ranks),
        col("axis") === col("ra") && col("v") <=> col("rv"))
      .groupBy("x", "y", "c")
      .agg(max(when(col("axis") === 0, col("r2"))).cast("decimal(19,0)").as("r2x"),
        max(when(col("axis") === 1, col("r2"))).cast("decimal(19,0)").as("r2y"))
      .filter(col("r2x").isNotNull && col("r2y").isNotNull)
      .withColumn("cd", col("c").cast("decimal(19,0)"))
    // moments in DECIMAL(38,0), operands promoted before the multiply
    def moment(a: String, b: String) =
      sum((col("cd") * col(a) * col(b)).cast("decimal(38,0)"))
    ranked.agg(coalesce(sum("c"), lit(0L)).as("n"),
        moment("r2x", "r2x").as("sxx"), moment("r2y", "r2y").as("syy"),
        moment("r2x", "r2y").as("sxy"))
      .select(col("n"),
        when(col("sxx") > 0 && col("syy") > 0,
          floor(col("sxy").cast("double") /
            (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double")))
            * lit(10000.0)).cast("long")).as("rho_c"))
  }

  def oracles: Map[String, String] = Map(
    "eval_kendall_tau_daily" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type AS t1, b.event_type AS t2, a.day,
        |    a.c AS c1, b.c AS c2
        |  FROM daily a JOIN daily b ON a.day = b.day AND a.event_type < b.event_type),
        |dp AS (SELECT x.t1, x.t2,
        |    (y.c1 - x.c1) * (y.c2 - x.c2) AS prod
        |  FROM p x JOIN p y ON x.t1 = y.t1 AND x.t2 = y.t2 AND x.day < y.day)
        |SELECT t1, t2, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |  CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |  CAST(sum(CASE WHEN prod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |  CAST(floor((CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    - CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)) * 10000.0
        |    / count(*)) AS BIGINT) AS tau_c
        |FROM dp GROUP BY t1, t2 ORDER BY t1, t2""".stripMargin,

    "corr_spearman" ->
      """WITH r AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice) AS BIGINT) // 100 AS y FROM lineitem),
        |hx AS (SELECT x, count(*) AS nb FROM r GROUP BY 1),
        |rx AS (SELECT x, 2 * coalesce(sum(nb) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + nb - sum(nb) OVER () AS r2x FROM hx),
        |hy AS (SELECT y, count(*) AS nb FROM r GROUP BY 1),
        |ry AS (SELECT y, 2 * coalesce(sum(nb) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + nb - sum(nb) OVER () AS r2y FROM hy),
        |j AS (SELECT CAST(rx.r2x AS BIGINT) AS r2x,
        |    CAST(ry.r2y AS BIGINT) AS r2y
        |  FROM r JOIN rx ON r.x = rx.x JOIN ry ON r.y = ry.y),
        |m AS (SELECT count(*) AS n,
        |    sum(r2x*r2x) AS sxx,
        |    sum(r2y*r2y) AS syy,
        |    sum(r2x*r2y) AS sxy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN sxx > 0 AND syy > 0
        |    THEN CAST(floor(CAST(sxy AS DOUBLE) /
        |      (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
        |      * 10000.0) AS BIGINT)
        |    ELSE NULL END AS rho_c
        |FROM m""".stripMargin,

    "agg_weighted_median" ->
      """WITH h AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice) AS BIGINT) AS p,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS wp
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(wp) OVER (PARTITION BY l_returnflag)
        |      AS BIGINT) AS tw,
        |    CAST(sum(wp) OVER (PARTITION BY l_returnflag ORDER BY p)
        |      AS BIGINT) AS cw FROM h)
        |SELECT l_returnflag, tw AS total_w, min(p) AS wmedian_price
        |FROM w WHERE cw * 2 >= tw
        |GROUP BY l_returnflag, tw ORDER BY l_returnflag""".stripMargin,

    "agg_trimmed_mean" ->
      """WITH h AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice) AS BIGINT) AS p, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY l_returnflag)
        |      AS BIGINT) AS n,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY p)
        |      AS BIGINT) AS cum FROM h),
        |k AS (SELECT *, n // 10 AS lo, n - n // 10 AS hi,
        |    greatest(0, least(cum, n - n // 10)
        |      - greatest(cum - c, n // 10)) AS ov FROM w)
        |SELECT l_returnflag, hi - lo AS n_kept,
        |  CAST((sum(p * ov) * 100) // (hi - lo) AS BIGINT)
        |    AS trimmed_mean_cents
        |FROM k GROUP BY l_returnflag, hi - lo
        |ORDER BY l_returnflag""".stripMargin,

    "agg_gini_index" ->
      """WITH h AS (SELECT o_orderpriority,
        |    CAST(floor(o_totalprice) AS BIGINT) AS v, count(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS n,
        |    CAST(sum(c * v) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS sv,
        |    2 * CAST(coalesce(sum(c) OVER (PARTITION BY o_orderpriority
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) + c + 1 AS r2
        |  FROM h)
        |SELECT o_orderpriority, n,
        |  CAST((sum(CAST(c AS HUGEINT) * (r2 - n - 1) * v) * 1000000)
        |    // (CAST(n AS HUGEINT) * sv) AS BIGINT) AS gini_ppm
        |FROM w GROUP BY o_orderpriority, n, sv
        |ORDER BY o_orderpriority""".stripMargin,

    "vec_power_iteration" ->
      """WITH q AS (SELECT vec_id, embedding,
        |    list_reduce(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)),
        |      (a, b) -> a + b) AS q
        |  FROM embeddings),
        |p AS (SELECT CAST(i - 1 AS BIGINT) AS pos,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) * q
        |      AS t
        |  FROM q, unnest(generate_series(1, len(embedding))) u(i))
        |SELECT pos, CAST(sum(t) AS BIGINT) AS s
        |FROM p GROUP BY pos ORDER BY pos""".stripMargin
  )
}
