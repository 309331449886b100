package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe cumulative folds over VALUE histograms.
  *
  * The engine's 2-pass global-rank discipline first compresses data-sized
  * relations to distinct-value histograms; this helper removes the last
  * single-partition step from the fold over that histogram. A histogram
  * keyed on `sum(revenue)`-style values can approach the group count in
  * the worst case, so even the histogram must never pass through one
  * unpartitioned `Window.orderBy` — the range-bucket + boundary-summary
  * pattern of `feed_gap_detect` (ops/FeedOps.scala) generalized:
  *
  *  1. shift values to a nonnegative offset from the measured min (or max,
  *     for descending folds) — one 1-row stats broadcast;
  *  2. level-1 buckets of adaptive width W₁ = ⌈span / 2²⁰⌉: the
  *     per-value cumulative is a PARTITIONED window inside each bucket;
  *  3. level-2 superbuckets of 1024 level-1 buckets: the per-bucket
  *     boundary cumulative is a PARTITIONED window inside each
  *     superbucket;
  *  4. the ≤ 1024-row superbucket summary folds through a bounded
  *     broadcast all-pairs self-join (≤ 1024² pairs by construction):
  *     per superbucket, the sum below it and the grand total.
  *
  * No WindowExec in the plan is unpartitioned; the only nested-loop joins
  * broadcast the 1-row stats relation or the ≤1024-row superbucket
  * summary. The per-bucket boundary relation (lvl2) is NOT statically
  * bounded the same way — it carries one row per non-empty level-1 bucket
  * (up to 2²⁰ × the spec count in the worst case), so its join is left
  * unhinted and AQE picks broadcast vs shuffle from the measured runtime
  * size; lvl1 already hash-partitions on the bucket id from its window
  * exchange, so the shuffle fallback reuses that partitioning. Every
  * quantity is exact int64 arithmetic, so results are bit-identical to
  * the single-window form. Value spans that would overflow the int64
  * width arithmetic (mx − mn ≥ 2⁶³) fail loudly via a runtime guard
  * rather than silently mis-bucketing.
  */
object Histograms {

  /** One cumulative output: `cumName = Σ weight` over all histogram rows
    * strictly before (or up to, when `inclusive`) the row's value in
    * `ascending`/descending value order; optionally the grand total as
    * `totalName`. */
  case class CumSpec(weight: Column, cumName: String,
                     totalName: Option[String] = None)

  /** Append the cumulative columns of `specs` to `hist`.
    *
    * `value` must be integral (cast to long internally) and unique per
    * histogram row — the standard distinct-value histogram contract. All
    * specs share one fold (one stats pass, one bucket structure). */
  def cumulativeFold(hist: DataFrame, value: Column, specs: Seq[CumSpec],
                     ascending: Boolean = true,
                     inclusive: Boolean = false): DataFrame = {
    val is = specs.indices
    def aggAll(df: DataFrame, keys: Seq[String], in: Int => String,
               out: Int => String): DataFrame = {
      val aggs = is.map(i => sum(col(in(i))).as(out(i)))
      df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
    val h0 = hist.withColumn("_gh_v", value.cast("long"))
    val withW = is.foldLeft(h0)((df, i) =>
      df.withColumn(s"_gh_wt$i", specs(i).weight.cast("long")))
    val stats = h0.agg(min(col("_gh_v")).as("_gh_mn"), max(col("_gh_v")).as("_gh_mx"))
    val h = withW.crossJoin(broadcast(stats))
      .withColumn("_gh_vp",
        if (ascending) col("_gh_v") - col("_gh_mn") else col("_gh_mx") - col("_gh_v"))
      // adaptive width: ≤ 2^20 level-1 buckets whatever the value span.
      // The guard folds into the width term (coalesce(null,0) when the
      // span fits) so column pruning cannot drop it: a span ≥ 2^63 would
      // overflow both `_gh_mx - _gh_mn` and `_gh_v - _gh_mn`.
      .withColumn("_gh_w1",
        greatest(lit(1L) + coalesce(assert_true(
            col("_gh_mx").cast("double") / 2 - col("_gh_mn").cast("double") / 2 < lit(4.6e18),
            lit("cumulativeFold: value span >= 2^63 overflows int64 bucket arithmetic — rescale values before folding")
          ).cast("long"), lit(0L)),
          expr("(_gh_mx - _gh_mn) div 1048576 + 1")))
      .withColumn("_gh_b1", expr("_gh_vp div _gh_w1"))
      .withColumn("_gh_b2", expr("_gh_b1 div 1024"))
      .drop("_gh_mn", "_gh_mx", "_gh_w1")
    // level 1: cumulative inside each value bucket (partitioned window)
    val wIn = Window.partitionBy("_gh_b1").orderBy("_gh_vp")
      .rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1)
    val lvl1 = is.foldLeft(h)((df, i) =>
      df.withColumn(s"_gh_c1$i", coalesce(sum(col(s"_gh_wt$i")).over(wIn), lit(0L))))
    // level 2: per-bucket totals, cumulative inside each superbucket
    val s1 = aggAll(h, Seq("_gh_b2", "_gh_b1"), i => s"_gh_wt$i", i => s"_gh_bt$i")
    val wB = Window.partitionBy("_gh_b2").orderBy("_gh_b1")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lvl2 = is.foldLeft(s1)((df, i) =>
        df.withColumn(s"_gh_c2$i",
          coalesce(sum(col(s"_gh_bt$i")).over(wB), lit(0L))))
    // superbucket summary: bounded (≤1024 rows) boundary self-join
    // every relation below is bucket-summary-sized; the plan stays fully
    // declarative (no checkpoints) so identical subtrees fold via
    // exchange reuse and downstream plan audits see the real shape
    val s2 = aggAll(lvl2, Seq("_gh_b2"), i => s"_gh_bt$i", i => s"_gh_st$i")
    val below = s2.select(col("_gh_b2").as("_gh_b2b") +:
      is.map(i => col(s"_gh_st$i").as(s"_gh_sb$i")): _*)
    // every superbucket pair (≤ 1024²) gives both the sum below each
    // superbucket and the grand total
    val cumAggs = is.flatMap(i => Seq(
      coalesce(sum(when(col("_gh_b2b") < col("_gh_b2"), col(s"_gh_sb$i"))), lit(0L))
        .as(s"_gh_cb$i"),
      sum(col(s"_gh_sb$i")).as(s"_gh_tt$i")))
    val cum2 = s2.select("_gh_b2").crossJoin(broadcast(below))
      .groupBy("_gh_b2").agg(cumAggs.head, cumAggs.tail: _*)
    // assemble: boundary(superbucket) + boundary(bucket) + in-bucket.
    // lvl2 (per-bucket boundaries) can reach 2^20 rows × specs, so no
    // static broadcast hint: AQE broadcasts when the runtime size fits
    // and falls back to a shuffle join that reuses lvl1's window
    // partitioning on _gh_b1 when it doesn't.
    val joined = lvl1
      .join(lvl2.select(col("_gh_b1").as("_gh_b1j") +:
        is.map(i => col(s"_gh_c2$i")): _*),
        col("_gh_b1") === col("_gh_b1j"))
      .join(broadcast(cum2.withColumnRenamed("_gh_b2", "_gh_b2j")),
        col("_gh_b2") === col("_gh_b2j"))
    val out = is.foldLeft(joined) { (df, i) =>
      val withCum = df.withColumn(specs(i).cumName,
        col(s"_gh_cb$i") + col(s"_gh_c2$i") + col(s"_gh_c1$i"))
      specs(i).totalName.fold(withCum)(tn => withCum.withColumn(tn, col(s"_gh_tt$i")))
    }
    out.drop(Seq("_gh_v", "_gh_vp", "_gh_b1", "_gh_b2", "_gh_b1j", "_gh_b2j") ++
      is.flatMap(i => Seq(s"_gh_wt$i", s"_gh_c1$i", s"_gh_c2$i",
        s"_gh_cb$i", s"_gh_tt$i")): _*)
  }
}
