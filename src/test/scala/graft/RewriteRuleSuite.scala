package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.catalyst.CompactLatestRewrite

/** Tests for the compaction window→max_by optimizer rule: it must fire on
  * the exact pattern, produce identical results to the window plan, and
  * leave every non-matching window untouched.
  */
class RewriteRuleSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def sample = Seq(
    (1L, 10L, "a", 1.0), (1L, 20L, "b", 2.0), (1L, 30L, "c", 3.0),
    (2L, 11L, "d", 4.0), (2L, 21L, "e", 5.0),
    (3L, 12L, "f", 6.0)
  ).toDF("subject", "event_id", "payload", "value")

  private def compactionQuery = {
    val w = Window.partitionBy("subject").orderBy(col("event_id").desc)
    sample.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  private def withRule[T](f: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ CompactLatestRewrite
    try f finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == CompactLatestRewrite)
    }
  }

  test("rule rewrites the compaction pattern to a max_by aggregate") {
    withRule {
      val plan = compactionQuery.queryExecution.optimizedPlan
      assert(plan.toString.contains("max_by"), s"expected max_by in:\n$plan")
      val windows = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty, s"window node survived:\n$plan")
    }
  }

  test("rewritten plan returns exactly the window plan's rows") {
    val expected = compactionQuery.collect().map(_.toSeq).toSet // rule inactive
    val got = withRule { compactionQuery.collect().map(_.toSeq).toSet }
    assert(got === expected)
    assert(got.map(_.head) === Set(1L, 2L, 3L))
    // latest state per subject
    assert(got.exists(r => r(0) == 1L && r(2) == "c"))
  }

  test("rule agrees with feed_compact_latest on real data") {
    val viaWindow = graft.ops.FeedOps.queries("feed_compact_latest")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    val viaRule = withRule {
      graft.ops.FeedOps.queries("feed_compact_latest")(spark, TestSpark.sfDir)
        .collect().map(_.toSeq).toSet
    }
    assert(viaRule === viaWindow)
  }

  test("rule ranks NULL order keys like the window: NULLS LAST/FIRST, all-null partition") {
    // partition 1 has one null among non-nulls (placement decides the winner),
    // partition 2 is entirely null (the window still keeps its real row),
    // partition 3 is the plain case — every winner is deterministic.
    val data = Seq(
      (1L, Some(10L), "a"), (1L, None, "b"), (1L, Some(30L), "c"),
      (2L, None, "d"),
      (3L, Some(12L), "f")
    ).toDF("subject", "event_id", "payload")
    def q(nullsFirst: Boolean) = {
      val ord = if (nullsFirst) col("event_id").desc_nulls_first
                else col("event_id").desc_nulls_last
      val w = Window.partitionBy("subject").orderBy(ord)
      data.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }
    for (nullsFirst <- Seq(true, false)) {
      val expected = q(nullsFirst).collect().map(_.toSeq).toSet
      val got = withRule {
        val plan = q(nullsFirst).queryExecution.optimizedPlan
        assert(plan.toString.contains("max_by"),
          s"rule must fire on nullable keys (nullsFirst=$nullsFirst):\n$plan")
        q(nullsFirst).collect().map(_.toSeq).toSet
      }
      assert(got === expected, s"nullsFirst=$nullsFirst")
      assert(got.exists(r => r(0) == 2L && r(2) == "d"),
        "all-null partition must keep its real row")
    }
  }

  test("rule does not fire for rank(), ascending order, top-3, or no partition") {
    withRule {
      val w = Window.partitionBy("subject").orderBy(col("event_id").desc)
      val cases = Seq(
        sample.withColumn("rn", rank().over(w)).filter(col("rn") === 1),
        sample.withColumn("rn", row_number().over(
          Window.partitionBy("subject").orderBy(col("event_id")))).filter(col("rn") === 1),
        sample.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3),
        sample.withColumn("rn", row_number().over(
          Window.orderBy(col("event_id").desc))).filter(col("rn") === 1))
      cases.foreach { df =>
        val windows = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
        assert(windows.nonEmpty, "rule must not fire on a non-compaction window")
      }
    }
  }

  test("Feeds.readModel keeps its window: a partial WindowGroupLimit runs before the exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}
    withRule {
      val model = graft.api.Feeds.readModel(sample, col("subject"), col("event_id"),
        col("payload") === "c")
      // the optimizer folds the tombstone filter into `__rn = 1`, so the
      // compaction rule's exact `rn = 1` pattern never matches
      val logical = model.queryExecution.optimizedPlan
      assert(logical.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.nonEmpty, s"expected the window to survive:\n$logical")
      val physical = model.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      def limits(p: SparkPlan) = p.collect { case w: WindowGroupLimitExec => w.mode }
      val exchanges = physical.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length === 1, physical)
      // map side: one row per subject per task survives into the shuffle
      assert(limits(exchanges.head.child) === Seq(Partial), physical)
      assert(limits(physical) === Seq(Final, Partial), physical)
      assert(model.collect().map(r => (r.getLong(0), r.getString(2))).toSet ===
        Set((2L, "e"), (3L, "f")))
    }
  }
}
