package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.QualityOps
import graft.io.Tables

/** Semantic invariants for §2.26 (QualityOps) on the sf0.001 fixture —
  * brute-force re-derivations in plain Scala (the DuckDB oracle checks
  * the same queries at sf0.01+).
  */
class QualityOpsSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  test("table_column_stats: exact ndv/min/max for spot columns") {
    val rows = QualityOps.queries("table_column_stats")(spark, d).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(rows.size == 8)
    val li = Tables.lineitem(spark, d)
      .select("l_orderkey", "l_quantity", "l_returnflag").collect()
    val keys = li.map(_.getLong(0))
    val (n, ndv, mn, mx) = rows("l_orderkey")
    assert(n == keys.length && ndv == keys.distinct.length)
    assert(mn == keys.min.toString && mx == keys.max.toString)
    val qty = li.map(_.getDouble(1))
    val (qn, qndv, qmn, qmx) = rows("l_quantity")
    assert(qn == qty.length && qndv == qty.distinct.length)
    assert(qmn == math.floor(qty.min * 10000).toLong.toString)
    assert(qmx == math.floor(qty.max * 10000).toLong.toString)
    val rf = li.map(_.getString(2))
    assert(rows("l_returnflag")._2 == rf.distinct.length)
  }

  /** The single-pass aggregate table_column_stats replaced (8 exact
    * distincts through Spark's Expand), kept as the reference. */
  private def singlePassColumnStats(li: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val t = li.withColumn("ship_day",
      expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000"))
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_returnflag", "l_linestatus", "ship_day")
    val money = Set("l_quantity", "l_extendedprice", "l_discount")
    val aggs = cols.flatMap { n =>
      val canonical = (c: Column) => if (money(n)) Tables.canon(c) else c
      Seq(count(col(n)).as(s"${n}_n"), count_distinct(col(n)).as(s"${n}_ndv"),
        canonical(min(col(n))).cast("string").as(s"${n}_min"),
        canonical(max(col(n))).cast("string").as(s"${n}_max"))
    }
    t.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(n => struct(lit(n).as("column"),
        col(s"${n}_n").as("n_nonnull"), col(s"${n}_ndv").as("ndv"),
        col(s"${n}_min").as("min_s"), col(s"${n}_max").as("max_s"))): _*)).as("r"))
      .select("r.column", "r.n_nonnull", "r.ndv", "r.min_s", "r.max_s")
      .orderBy("column")
  }

  test("table_column_stats ≡ the single-pass aggregate on nulls, ±0.0, NaN and an empty table") {
    import spark.implicits._
    val ts = (s: String) => Some(java.sql.Timestamp.valueOf(s))
    // every column has nulls, l_linestatus is all null, each double column
    // holds -0.0, 0.0 and NaN, and every column repeats a value
    val li = Seq(
      (Some(1L), Some(10L), Some(1.0), Some(100.5), Some(0.0), Some("A"),
        Option.empty[String], ts("1995-03-01 10:00:00")),
      (Some(1L), None, Some(-0.0), Some(Double.NaN), Some(-0.0), Some("N"),
        None, ts("1995-03-01 23:59:59")),
      (None, Some(10L), Some(Double.NaN), Some(100.5), Some(0.05), None,
        None, None),
      (Some(3L), Some(7L), None, None, Some(Double.NaN), Some("A"),
        None, ts("1969-12-31 12:00:00")),
      (Some(2L), Some(10L), Some(0.0), Some(-0.0), Some(-2.5), Some("R"),
        None, ts("1998-12-01 00:00:00")),
      (Some(2L), None, Some(1.0), Some(0.0), None, Some("N"), None, None),
      (None, None, None, None, None, None, None, None))
      .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "l_linestatus", "l_shipdate")
    val tmp = java.nio.file.Files.createTempDirectory("graft_column_stats").toString
    try {
      li.write.parquet(s"$tmp/edge/lineitem.parquet")
      li.limit(0).write.parquet(s"$tmp/empty/lineitem.parquet")
      for (dir <- Seq(s"$tmp/edge", s"$tmp/empty")) {
        val got = QualityOps.queries("table_column_stats")(spark, dir).collect().toSeq
        val want = singlePassColumnStats(Tables.lineitem(spark, dir)).collect().toSeq
        assert(got == want, dir)
      }
      val edge = QualityOps.queries("table_column_stats")(spark, s"$tmp/edge")
        .collect().map(r => r.getString(0) -> r).toMap
      val ls = edge("l_linestatus")
      assert(ls.getLong(1) == 0 && ls.getLong(2) == 0 && ls.isNullAt(3) && ls.isNullAt(4))
      val disc = edge("l_discount") // -0.0 ≡ 0.0, NaN is one value above all
      assert(disc.getLong(1) == 5 && disc.getLong(2) == 4)
      assert(disc.getString(3) == "-25000" && disc.getString(4) == "0")
      val empty = QualityOps.queries("table_column_stats")(spark, s"$tmp/empty").collect()
      assert(empty.length == 8)
      empty.foreach(r => assert(r.getLong(1) == 0 && r.getLong(2) == 0 &&
        r.isNullAt(3) && r.isNullAt(4), r))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("dq_violation_report ≡ brute-force constraint evaluation") {
    val rows = QualityOps.queries("dq_violation_report")(spark, d).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.size == 6)
    val li = Tables.lineitem(spark, d)
      .select("l_orderkey", "l_quantity", "l_discount").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val orderKeys = Tables.orders(spark, d).select("o_orderkey").collect()
      .map(_.getLong(0)).toSet
    val lineKeys = li.map(_._1).toSet
    assert(rows("lineitem_orphan")._1 == li.length)
    assert(rows("lineitem_orphan")._2 == li.count(r => !orderKeys(r._1)))
    assert(rows("lineitem_qty_range")._2 ==
      li.count(r => r._2 < 1 || r._2 > 50))
    assert(rows("order_no_lines")._1 == orderKeys.size)
    assert(rows("order_no_lines")._2 == orderKeys.count(k => !lineKeys(k)))
    rows.foreach { case (rule, (n, v, ppm)) =>
      assert(ppm == v * 1000000L / n, rule)
    }
  }

  test("stats_histogram_grid: cells partition lineitem, shares floor-ppm") {
    val rows = QualityOps.queries("stats_histogram_grid")(spark, d).collect()
    val total = Tables.lineitem(spark, d).count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 1000000L / total)
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 10)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 10)
    }
  }

  test("layout_skew_report ≡ brute-force heaviest keys") {
    val rows = QualityOps.queries("layout_skew_report")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10)
    val counts = Tables.lineitem(spark, d).select("l_partkey").collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val top = counts.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    assert(rows.map(r => (r._1, r._2)).toSeq == top)
    val total = counts.values.sum
    rows.foreach { case (_, cnt, ratio) =>
      assert(ratio == cnt * 100L * counts.size / total)
    }
  }
}
