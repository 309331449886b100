package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** §2.26 table statistics & data-quality audit — the ANALYZE/constraint
  * layer a lakehouse engine runs over its own tables: per-column optimizer
  * statistics, a declarative violation report over the star schema's
  * implicit constraints, the 2-D selectivity grid a join-cardinality
  * estimator consumes, and the join-key skew report that decides when a
  * salted join is worth it.
  *
  * Scale shapes (100 TB notes):
  *  - table_column_stats: ONE pass over lineitem that explodes each row
  *    into 8 (column, value) entries (8× rows) feeding a map-side-combining
  *    partial hash aggregate on (column, value), so the shuffle carries at
  *    most one row per distinct value per task — no Expand, and no sort
  *    over data rows. A second aggregate over that histogram (Σ ndv rows)
  *    gives count/ndv/min/max per column; only its string min/max runs as
  *    a SortAggregate. The exact-NDV contract is the point here and sizes
  *    the histogram; at true 100 TB, swap ndv to per-column sketches.
  *  - dq_violation_report: every rule is a key-shuffled join (or a pure
  *    scan predicate) feeding ONE map-side-combinable aggregate; rules
  *    sharing a join (lineitem⋈orders) are computed in the same pass.
  *  - stats_histogram_grid: |qty bands|×|discount cents| cells — the
  *    share window runs over the grid aggregate, never data.
  *  - layout_skew_report: per-key counts shuffle once on the key; the
  *    top-10 is a TakeOrdered, and the mean joins in as a single-row
  *    broadcast (BNLJ by design).
  */
object QualityOps {

  /** day index of a parquet timestamp column (NTZ or instant vintage —
    * UTC session pinned by every entry point). */
  private def dayIdx(c: Column): Column =
    expr(s"unix_micros(cast(${c.toString} as timestamp)) div 86400000000")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ANALYZE-style per-column statistics for lineitem: non-null count,
    // exact NDV, canonical min/max, one row per column. min/max are
    // emitted as canonical STRINGS (longs and floor-canonicalized doubles
    // rendered as integers) so the output schema is uniform across column
    // types. Every statistic is read off one histogram of (column, value)
    // entries; a null value fills no slot.
    "table_column_stats" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val panel = Seq(
        ("l_orderkey", col("l_orderkey"), "lv"),
        ("l_partkey", col("l_partkey"), "lv"),
        ("l_quantity", col("l_quantity"), "dv"),
        ("l_extendedprice", col("l_extendedprice"), "dv"),
        ("l_discount", col("l_discount"), "dv"),
        ("l_returnflag", col("l_returnflag"), "sv"),
        ("l_linestatus", col("l_linestatus"), "sv"),
        ("ship_day", dayIdx(col("l_shipdate")), "lv"))
      val slots = Seq("lv" -> "long", "dv" -> "double", "sv" -> "string")
      def slotted(v: Column, slot: String) = slots.map { case (sl, t) =>
        (if (sl == slot) v else lit(null)).cast(t).as(sl) }
      val hist = li.select(explode(array(panel.map { case (n, v, sl) =>
          struct(lit(n).as("column") +: slotted(v, sl): _*) }: _*)).as("e"))
        .select("e.*")
        .groupBy("column", "lv", "dv", "sv").count()
      // an all-null entry per column, so an empty table still has 8 rows
      val seeds = panel.map(_._1).toDF("column")
        .select(col("column") +: slotted(lit(null), "none") :+ lit(0L).as("count"): _*)
      val nonNull = slots.map(sl => col(sl._1).isNotNull).reduce(_ || _)
      // the dv slot holds money, canonicalized after min/max (floor is monotone)
      def ends(f: Column => Column) = coalesce(f(col("lv")).cast("string"),
        Tables.canon(f(col("dv"))).cast("string"), f(col("sv")))
      hist.unionByName(seeds).groupBy("column").agg(
          sum(when(nonNull, col("count")).otherwise(0L)).as("n_nonnull"),
          count(when(nonNull, true)).as("ndv"),
          ends(min(_)).as("min_s"), ends(max(_)).as("max_s"))
        .orderBy("column")
    }),

    // Declarative constraint audit over the star schema: referential
    // integrity both directions on orders⋈lineitem, the orders→customer
    // FK, domain ranges on quantity/discount, and the cross-table
    // temporal rule "shipped before ordered". One row per rule with
    // checked/violation counts and integer-ppm rate. Rules sharing the
    // lineitem⋈orders join are computed in a single pass over it.
    "dq_violation_report" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      def rule(name: String, checked: Column, viol: Column): Column =
        struct(lit(name).as("rule"), checked.as("n_checked"),
          viol.as("n_violations"))
      // lineitem-side rules in one pass over lineitem ⟕ orders
      val lj = li.select(col("l_orderkey"), col("l_quantity"),
          col("l_discount"), dayIdx(col("l_shipdate")).as("ship_day"))
        .join(ord.select(col("o_orderkey"),
          dayIdx(col("o_orderdate")).as("order_day")),
          col("l_orderkey") === col("o_orderkey"), "left")
      val liRules = lj.agg(array(
        rule("lineitem_orphan", count(lit(1)),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))),
        rule("lineitem_qty_range", count(lit(1)),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L))),
        rule("lineitem_discount_range", count(lit(1)),
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L))),
        rule("ship_before_order", count(lit(1)),
          sum(when(col("ship_day") < col("order_day"), 1L).otherwise(0L)))
      ).as("rs"))
      // orders-side rules in one pass over orders ⟕ lineitem-keys ⟕ customer
      val lkeys = li.select(col("l_orderkey")).distinct()
      val oj = ord.select(col("o_orderkey"), col("o_custkey"))
        .join(lkeys, col("o_orderkey") === col("l_orderkey"), "left")
        .join(cust.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left")
      val ordRules = oj.agg(array(
        rule("order_no_lines", count(lit(1)),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))),
        rule("order_customer_fk", count(lit(1)),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)))
      ).as("rs"))
      liRules.unionByName(ordRules)
        .select(explode(col("rs")).as("r"))
        .select(col("r.rule").as("rule"), col("r.n_checked").as("n_checked"),
          col("r.n_violations").as("n_violations"))
        .withColumn("viol_ppm", expr("(n_violations * 1000000) div n_checked"))
        .orderBy("rule")
    }),

    // Order-size distribution: lineitems-per-order histogram with
    // integer-ppm shares — the basket-shape statistic an order pipeline
    // monitors (and a join-cardinality input).
    "order_size_histogram" -> ((s, d) => {
      val sizes = Tables.lineitem(s, d)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
        .groupBy("n_lines").agg(count(lit(1)).as("n_orders"))
      sizes
        .withColumn("tot", sum("n_orders").over(Window.partitionBy()))
        .withColumn("share_ppm", expr("(n_orders * 1000000) div tot"))
        .select("n_lines", "n_orders", "share_ppm")
        .orderBy("n_lines")
    }),

    // Order-independent table fingerprints: per table, the row count and
    // the SUM of each row's 24-bit md5 key-decode — a commutative
    // checksum any engine recomputes identically, the cross-engine
    // integrity check a migration runs before cutover.
    "table_fingerprint" -> ((s, d) => {
      def hex24(c: Column): Column = {
        val m = md5(c)
        (1 to 6).map { i =>
          val a = ascii(substring(m, i, 1))
          when(a >= 97, a - 87).otherwise(a - 48).cast("long") *
            lit(1L << (4 * (6 - i)))
        }.reduce(_ + _)
      }
      def fp(df: DataFrame, name: String, key: Column) = df
        .select(hex24(key).as("h"))
        .agg(lit(name).as("table_name"), count(lit(1)).as("n"),
          sum("h").as("checksum"))
      fp(Tables.lineitem(s, d), "lineitem",
          concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            floor(col("l_quantity")).cast("long")))
        .unionByName(fp(Tables.orders(s, d), "orders",
          concat_ws("|", col("o_orderkey"), col("o_custkey"))))
        .unionByName(fp(Tables.customer(s, d), "customer",
          concat_ws("|", col("c_custkey"), col("c_nationkey"))))
        .orderBy("table_name")
    }),

    // Benford first-significant-digit forensics over order totals: the
    // classic fraud/data-quality screen. Observed share per digit vs the
    // Benford expectation (log10(1+1/d) pre-tabulated as integer ppm —
    // no cross-engine log10), and the absolute gap.
    "dq_benford_digits" -> ((s, d) => {
      val benford = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
        66947L, 57992L, 51153L, 45757L)
      val bArr = array(benford.map(lit): _*)
      val digits = Tables.orders(s, d)
        .select(floor(col("o_totalprice")).cast("long").as("v"))
        .filter(col("v") > 0)
        .withColumn("digit",
          substring(col("v").cast("string"), 1, 1).cast("long"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      digits
        .withColumn("tot", sum("n").over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("obs_ppm", expr("(n * 1000000) div tot"))
        .withColumn("benford_ppm", element_at(bArr, col("digit").cast("int")))
        .withColumn("gap_ppm", abs(col("obs_ppm") - col("benford_ppm")))
        .select("digit", "n", "obs_ppm", "benford_ppm", "gap_ppm")
        .orderBy("digit")
    }),

    // Rollup with explicit grouping flags: subtotal levels of the
    // (status, priority) hierarchy, each row tagged with its grouping
    // bits — the resultset shape BI tools key subtotal rendering on.
    "agg_grouping_id" -> ((s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          (grouping(col("o_orderstatus")) * 2 +
            grouping(col("o_orderpriority"))).cast("long").as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("gid"), col("n"))
        .orderBy("gid", "status", "priority")),

    // 2-D selectivity grid for the join-cardinality estimator: quantity
    // bands (width 5) × discount cents, cell count + integer-ppm share.
    // The share window runs over the ≤ |bands|×|cents| grid.
    "stats_histogram_grid" -> ((s, d) => {
      val grid = Tables.lineitem(s, d)
        .select(expr("floor(l_quantity) div 5").as("qty_band"),
          floor(col("l_discount") * 100).cast("long").as("disc_cents"))
        .groupBy("qty_band", "disc_cents").agg(count(lit(1)).as("n"))
      grid.withColumn("tot", sum("n").over(Window.partitionBy()))
        .withColumn("share_ppm", expr("(n * 1000000) div tot"))
        .select("qty_band", "disc_cents", "n", "share_ppm")
        .orderBy("qty_band", "disc_cents")
    }),

    // Join-key skew report: the 10 heaviest l_partkey keys with their
    // multiple of the mean per-key count (×100, integer) — the number
    // that decides whether the salted join path is worth taking. The
    // per-key counts shuffle once; the mean is a single-row broadcast.
    "layout_skew_report" -> ((s, d) => {
      val perKey = Tables.lineitem(s, d)
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      val tot = perKey.agg(sum("cnt").as("total"),
        count(lit(1)).as("nkeys"))
      perKey.orderBy(col("cnt").desc, col("l_partkey")).limit(10)
        .crossJoin(broadcast(tot))
        .withColumn("mean_x100_ratio", expr("(cnt * 100 * nkeys) div total"))
        .select("l_partkey", "cnt", "mean_x100_ratio")
        .orderBy(col("cnt").desc, col("l_partkey"))
    }),

    // Functional-dependency audit (the data-profiling step schema
    // discovery and DQ monitors run): for candidate A→B dependencies,
    // how many A-values exist, how many VIOLATE (map to >1 distinct B),
    // and the worst fan-out. One keyed countDistinct per dependency —
    // each relation is \|distinct A\|-sized, never row-sized.
    "dq_functional_deps" -> ((s, d) => {
      val p = Tables.part(s, d)
      def fd(name: String, lhs: Column, rhs: Column): DataFrame =
        p.groupBy(lhs.as("l")).agg(countDistinct(rhs).as("nr"))
          .agg(lit(name).as("fd"), count(lit(1)).as("n_lhs"),
            sum(when(col("nr") > 1, 1L).otherwise(0L)).as("n_violating"),
            max(col("nr")).as("max_rhs_per_lhs"))
      fd("brand_to_type", col("p_brand"), col("p_type"))
        .unionByName(fd("type_to_size", col("p_type"), col("p_size")))
        .unionByName(fd("name_to_brand", col("p_name"), col("p_brand")))
        .orderBy("fd")
    }),

    // Histogram selectivity probe (the optimizer estimator made
    // first-class): an equi-width 256-bucket histogram on lineitem
    // price estimates the selectivity of three range predicates
    // (x < mn + k/8 of the span, k ∈ {1,3,5}) by full buckets + a
    // linearly-interpolated partial bucket — ALL integer arithmetic —
    // and each estimate is scored against the exact count as err_ppm.
    // What a cost-based planner would do with the footer histogram; the
    // probe relation is 3 rows × the 256-cell histogram.
    "stats_selectivity_probe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice")).cast("long").as("x"))
      val st = li.agg(min("x").as("mn"), max("x").as("mx"),
        count(lit(1)).as("n")).localCheckpoint()
      val hist = li.crossJoin(broadcast(st))
        .withColumn("b", expr("((x - mn) * 256) div (mx - mn + 1)"))
        .groupBy("b").agg(count(lit(1)).as("c"))
      val ks = st.select(col("mn"), col("mx"), col("n"),
          explode(array(lit(1L), lit(3L), lit(5L))).as("k"))
        .withColumn("t", expr("mn + ((mx - mn) * k) div 8"))
        .withColumn("bt", expr("((t - mn) * 256) div (mx - mn + 1)"))
        .withColumn("lo", expr("mn + (bt * (mx - mn + 1)) div 256"))
        .withColumn("hi", expr("mn + ((bt + 1) * (mx - mn + 1)) div 256"))
      val est = ks.join(broadcast(hist), col("b") <= col("bt"))
        .groupBy("k", "t", "bt", "lo", "hi", "n")
        .agg(sum(when(col("b") < col("bt"), col("c")).otherwise(0L)).as("full"),
          sum(when(col("b") === col("bt"), col("c")).otherwise(0L)).as("cb"))
        // Zero-width partial bucket (span < 256 values ⇒ hi == lo) must
        // contribute 0, not divide by zero — degenerate-input guard.
        .withColumn("est", col("full") +
          when(col("hi") > col("lo"), expr("(cb * (t - lo)) div (hi - lo)")).otherwise(0L))
      val actual = li.crossJoin(broadcast(ks.select(col("k").as("k2"), col("t").as("t2"))))
        .filter(col("x") < col("t2"))
        .groupBy("k2").agg(count(lit(1)).as("actual"))
      est.join(actual, col("k") === col("k2"))
        .withColumn("err_ppm", expr("(abs(est - actual) * 1000000) div n"))
        .select(col("k"), col("t"), col("est"), col("actual"), col("err_ppm"))
        .orderBy("k")
    })
  )

  def oracles: Map[String, String] = Map(
    "dq_functional_deps" -> {
      def fd(name: String, lhs: String, rhs: String): String =
        s"""SELECT '$name' AS fd, count(*) AS n_lhs,
           |  CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           |  max(nr) AS max_rhs_per_lhs
           |FROM (SELECT $lhs AS l, CAST(count(DISTINCT $rhs) AS BIGINT) AS nr
           |      FROM part GROUP BY 1) t""".stripMargin
      s"""${fd("brand_to_type", "p_brand", "p_type")}
        |UNION ALL
        |${fd("type_to_size", "p_type", "p_size")}
        |UNION ALL
        |${fd("name_to_brand", "p_name", "p_brand")}
        |ORDER BY fd""".stripMargin
    },

    "stats_selectivity_probe" ->
      """WITH li AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS x FROM lineitem),
        |st AS (SELECT min(x) AS mn, max(x) AS mx, count(*) AS n FROM li),
        |hist AS (SELECT ((x - mn) * 256) // (mx - mn + 1) AS b, count(*) AS c
        |  FROM li, st GROUP BY 1),
        |ks AS (SELECT mn, mx, n, k,
        |    mn + ((mx - mn) * k) // 8 AS t
        |  FROM st, unnest(generate_series(1, 5, 2)) g(k)),
        |kb AS (SELECT *, ((t - mn) * 256) // (mx - mn + 1) AS bt FROM ks),
        |kl AS (SELECT *, mn + (bt * (mx - mn + 1)) // 256 AS lo,
        |    mn + ((bt + 1) * (mx - mn + 1)) // 256 AS hi FROM kb),
        |est AS (SELECT k, t, n,
        |    CAST(sum(CASE WHEN b < bt THEN c ELSE 0 END) AS BIGINT)
        |      + CASE WHEN hi > lo THEN
        |          (CAST(sum(CASE WHEN b = bt THEN c ELSE 0 END) AS BIGINT)
        |            * (t - lo)) // (hi - lo) ELSE 0 END AS est
        |  FROM kl JOIN hist ON b <= bt GROUP BY k, t, n, lo, hi),
        |act AS (SELECT k, count(*) AS actual FROM li, kl WHERE x < t GROUP BY k)
        |SELECT est.k, est.t, est.est, act.actual,
        |  (abs(est.est - act.actual) * 1000000) // est.n AS err_ppm
        |FROM est JOIN act ON est.k = act.k ORDER BY est.k""".stripMargin,

    "table_column_stats" -> {
      def block(n: String, v: String, canon: Boolean) = {
        val mn = if (canon) s"CAST(CAST(floor(min($v) * 10000) AS BIGINT) AS VARCHAR)"
        else s"CAST(min($v) AS VARCHAR)"
        val mx = if (canon) s"CAST(CAST(floor(max($v) * 10000) AS BIGINT) AS VARCHAR)"
        else s"CAST(max($v) AS VARCHAR)"
        s"""SELECT '$n' AS "column", count($v) AS n_nonnull,
           |  CAST(count(DISTINCT $v) AS BIGINT) AS ndv,
           |  $mn AS min_s, $mx AS max_s FROM t""".stripMargin
      }
      s"""WITH t AS (SELECT *, epoch_us(l_shipdate) // 86400000000 AS ship_day
        |  FROM lineitem)
        |${Seq(
          block("l_orderkey", "l_orderkey", canon = false),
          block("l_partkey", "l_partkey", canon = false),
          block("l_quantity", "l_quantity", canon = true),
          block("l_extendedprice", "l_extendedprice", canon = true),
          block("l_discount", "l_discount", canon = true),
          block("l_returnflag", "l_returnflag", canon = false),
          block("l_linestatus", "l_linestatus", canon = false),
          block("ship_day", "ship_day", canon = false)).mkString("\nUNION ALL\n")}
        |ORDER BY "column"""".stripMargin
    },

    "dq_violation_report" ->
      """WITH lj AS (SELECT l.l_orderkey, l.l_quantity, l.l_discount,
        |    epoch_us(l.l_shipdate) // 86400000000 AS ship_day,
        |    o.o_orderkey, epoch_us(o.o_orderdate) // 86400000000 AS order_day
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |lk AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |oj AS (SELECT o.o_orderkey, o.o_custkey, lk.l_orderkey, c.c_custkey
        |  FROM orders o LEFT JOIN lk ON o.o_orderkey = lk.l_orderkey
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |rules AS (
        |  SELECT 'lineitem_orphan' AS rule, count(*) AS n_checked,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations FROM lj
        |  UNION ALL
        |  SELECT 'lineitem_qty_range', count(*),
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1
        |      ELSE 0 END) AS BIGINT) FROM lj
        |  UNION ALL
        |  SELECT 'lineitem_discount_range', count(*),
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1
        |      ELSE 0 END) AS BIGINT) FROM lj
        |  UNION ALL
        |  SELECT 'ship_before_order', count(*),
        |    CAST(sum(CASE WHEN ship_day < order_day THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM lj
        |  UNION ALL
        |  SELECT 'order_no_lines', count(*),
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM oj
        |  UNION ALL
        |  SELECT 'order_customer_fk', count(*),
        |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM oj)
        |SELECT rule, n_checked, n_violations,
        |  (n_violations * 1000000) // n_checked AS viol_ppm
        |FROM rules ORDER BY rule""".stripMargin,

    "order_size_histogram" ->
      """WITH s AS (SELECT l_orderkey, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |h AS (SELECT n_lines, count(*) AS n_orders FROM s GROUP BY 1),
        |t AS (SELECT *, CAST(sum(n_orders) OVER () AS BIGINT) AS tot FROM h)
        |SELECT n_lines, n_orders,
        |  (n_orders * 1000000) // tot AS share_ppm
        |FROM t ORDER BY n_lines""".stripMargin,

    "table_fingerprint" -> {
      def hSql(keyExpr: String) =
        graft.api.Sampling.hexDecodeSql(s"md5($keyExpr)")
      val li = hSql("CAST(l_orderkey AS VARCHAR) || '|' || " +
        "CAST(l_linenumber AS VARCHAR) || '|' || " +
        "CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR)")
      val or = hSql("CAST(o_orderkey AS VARCHAR) || '|' || " +
        "CAST(o_custkey AS VARCHAR)")
      val cu = hSql("CAST(c_custkey AS VARCHAR) || '|' || " +
        "CAST(c_nationkey AS VARCHAR)")
      s"""SELECT 'customer' AS table_name, count(*) AS n,
        |  CAST(sum($cu) AS BIGINT) AS checksum FROM customer
        |UNION ALL
        |SELECT 'lineitem', count(*), CAST(sum($li) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orders', count(*), CAST(sum($or) AS BIGINT) FROM orders
        |ORDER BY table_name""".stripMargin
    },

    "dq_benford_digits" ->
      """WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders WHERE floor(o_totalprice) > 0),
        |d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit, count(*) AS n FROM v GROUP BY 1),
        |t AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS tot FROM d),
        |b AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |    (9, 45757)) AS bb(digit, benford_ppm))
        |SELECT t.digit, t.n, (t.n * 1000000) // t.tot AS obs_ppm,
        |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |  abs((t.n * 1000000) // t.tot - b.benford_ppm) AS gap_ppm
        |FROM t JOIN b ON t.digit = b.digit ORDER BY t.digit""".stripMargin,

    "agg_grouping_id" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
        |    AS BIGINT) AS gid,
        |  count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,

    "stats_histogram_grid" ->
      """WITH g AS (SELECT CAST(floor(l_quantity) AS BIGINT) // 5 AS qty_band,
        |    CAST(floor(l_discount * 100) AS BIGINT) AS disc_cents,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS tot FROM g)
        |SELECT qty_band, disc_cents, n,
        |  CAST((n * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM t ORDER BY qty_band, disc_cents""".stripMargin,

    "layout_skew_report" ->
      """WITH pk AS (SELECT l_partkey, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |    count(*) AS nkeys FROM pk),
        |top AS (SELECT * FROM pk ORDER BY cnt DESC, l_partkey LIMIT 10)
        |SELECT top.l_partkey, top.cnt,
        |  (top.cnt * 100 * t.nkeys) // t.total AS mean_x100_ratio
        |FROM top, t ORDER BY top.cnt DESC, top.l_partkey""".stripMargin
  )
}
