package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** Physical-plan regression tests: docs/PLANS.md documents the plans each
  * operator is DESIGNED to produce; this suite pins the load-bearing
  * properties so a refactor cannot silently regress them — filters and
  * projections reaching the parquet scan, dimensions broadcasting, top-k
  * compiling to TakeOrderedAndProject, and the dense-bitset dedup
  * strategy staying shuffle-free up to its output sort.
  */
class PlanSuite extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, TestSpark.sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  test("scan_project_filter pushes the shipdate range into the parquet scan") {
    val p = planOf("scan_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"shipdate filters must reach the scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint"), "projection must prune columns")
    assert(!p.contains("l_comment"), "unreferenced columns must not be read")
  }

  test("feed_scan_offset pushes the cursor as a scalar-subquery scan filter") {
    val p = planOf("feed_scan_offset")
    assert(p.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,ScalarSubquery"),
      s"cursor must reach the scan:\n$p")
  }

  test("join_broadcast broadcasts the dimension side") {
    val p = planOf("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "the dimension join must not shuffle both sides")
  }

  test("sort_multikey_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = planOf("sort_multikey_topk")
    assert(p.contains("TakeOrderedAndProject"), s"global top-k must use per-partition heaps:\n$p")
  }

  test("dedup_ngram_jaccard (small dict) is shuffle-free up to the output sort") {
    val p = planOf("dedup_ngram_jaccard")
    assert(p.contains("bitset_intersect_count"),
      s"small-dictionary corpus must take the bitset strategy:\n$p")
    assert(p.contains("BroadcastHashJoin"), "the blocked self-join must broadcast")
    // the ONLY repartitioning exchange is the final orderBy; no
    // hash-partitioned shuffle anywhere in the operator
    assert(!p.contains("Exchange hashpartitioning"),
      s"bitset strategy must not hash-shuffle:\n$p")
  }

  test("compaction keeps its window: a partial WindowGroupLimit runs before the exchange") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}
    import spark.implicits._
    val sample = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      (2L, 11L, "d"), (2L, 21L, "e"),
      (3L, 12L, "f")
    ).toDF("subject", "event_id", "payload")
    val (subject, order) = (col("subject"), col("event_id"))
    val cases = Seq(
      "compactLatest" -> (graft.api.Feeds.compactLatest(sample, subject, order),
        Set((1L, "c"), (2L, "e"), (3L, "f"))),
      "readModel" -> (graft.api.Feeds.readModel(sample, subject, order, col("payload") === "c"),
        Set((2L, "e"), (3L, "f"))))
    for ((name, (df, expected)) <- cases) {
      val physical = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      def limits(p: SparkPlan) = p.collect { case w: WindowGroupLimitExec => w.mode }
      val exchanges = physical.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length === 1, s"$name:\n$physical")
      // map side: one row per subject per task survives into the shuffle
      assert(limits(exchanges.head.child) === Seq(Partial), s"$name:\n$physical")
      assert(limits(physical) === Seq(Final, Partial), s"$name:\n$physical")
      assert(physical.collect { case a: SortAggregateExec => a }.isEmpty, s"$name:\n$physical")
      assert(df.collect().map(r => (r.getLong(0), r.getString(2))).toSet === expected, name)
    }
  }

  /** The scans `p` reads without a hash aggregate in between. */
  private def unaggregated(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: HashAggregateExec => Nil
    case s: FileSourceScanExec => Seq(s)
    case _ => p.children.flatMap(unaggregated)
  }

  test("table_column_stats plans no Expand; its sort aggregates read only aggregated input") {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    val nodes = Profile.planNodes(
      SparkEntry.queries("table_column_stats")(spark, TestSpark.sfDir))
    assert(!nodes.exists(_.isInstanceOf[ExpandExec]), nodes.head.treeString)
    val sorts = nodes.collect { case a: SortAggregateExec => a }
    assert(sorts.nonEmpty, "the string min/max still needs a sort aggregate")
    sorts.foreach(a => assert(a.children.flatMap(unaggregated).isEmpty,
      s"a sort aggregate reads the lineitem scan unaggregated:\n${nodes.head.treeString}"))
  }

  test("corr_spearman joins only aggregated lineitem: no window, no nested-loop join") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = Profile.planNodes(
      SparkEntry.queries("corr_spearman")(spark, TestSpark.sfDir))
    val plan = nodes.head.treeString
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), plan)
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), plan)
    val joins = nodes.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, plan)
    joins.foreach(j => assert(j.children.flatMap(unaggregated).isEmpty,
      s"a join reads lineitem rows before the cell aggregate:\n$plan"))
  }

  test("join_bucketed sort-merge-joins with no exchange below the join") {
    val p = planOf("join_bucketed")
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    assert(p.contains("Bucketed: true"), s"scans must read the bucketed layout:\n$p")
    val joinPart = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange"),
      s"co-located bucketed join must not shuffle either side:\n$p")
  }

  test("scan_partition_prune reads one partition via PartitionFilters") {
    val p = planOf("scan_partition_prune")
    assert("PartitionFilters: \\[isnotnull\\(o_year#\\d+\\), \\(o_year#\\d+ = 1998\\)\\]".r
        .findFirstIn(p).isDefined,
      s"the year filter must prune partitions, not rows:\n$p")
  }

  test("vector ops keep the native kernels in the plan (no interpreted HOF folds)") {
    val p = planOf("vec_knn_brute")
    assert(p.contains("vec_sqdist"), s"kNN must use the native distance kernel:\n$p")
    assert(!p.contains("aggregate(zip_with"), "no interpreted fold in the hot path")
  }

  test("text_rarity_score broadcasts the vocab df table with partial aggregation") {
    val p = planOf("text_rarity_score")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocabulary-sized df table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "instances must not sort-merge against the vocab")
    // per-doc reduction must combine map-side (two-phase hash aggregate)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggregates for both df and per-doc sums:\n$p")
  }

  test("seq_pack_chunk windows are partitioned by stream (no global window)") {
    val p = planOf("seq_pack_chunk")
    assert(p.contains("Window ["), s"expected a window operator:\n$p")
    assert(p.contains("partitionBy") || p.contains("hashpartitioning(lang"),
      s"the packing cumsum must partition by the stream key:\n$p")
  }

  test("dedup_embedding_lsh joins on band keys — no cartesian, kernels native") {
    val p = planOf("dedup_embedding_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidates must come from band-key equi-joins:\n$p")
    assert(p.contains("vec_dot"), s"verification must use the native dot kernel:\n$p")
  }

  test("corpus_shuffle_order ranks data rows in a bucket-partitioned window") {
    val p = planOf("corpus_shuffle_order")
    assert(p.contains("hashpartitioning(_graft_bkt"),
      s"the data-side row_number must partition by bucket:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket offset table must broadcast:\n$p")
  }

  test("map-only corpus ops stay exchange-free up to the output sort") {
    for (q <- Seq("pii_scrub", "text_repetition_stats", "vec_quantize_int8")) {
      val p = planOf(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q is per-row — it must not hash-shuffle:\n$p")
    }
  }

  test("common-neighbor build: adjacency aggregates exchange-free off the edge cache") {
    // the cache itself is what we pin, so bypass the persisted result and
    // plan the BUILD: adjacency groupBy(u) and the u-side join must reuse
    // the cached relation's HashPartitioning(u) — exactly one exchange
    // (the v-side re-key), the native merge kernel in the projection
    val es = graft.ops.GraphOps.edges(spark, TestSpark.sfDir)
    import org.apache.spark.sql.functions._
    val adj = es.groupBy("u")
      .agg(sort_array(collect_set(col("v"))).as("nbrs"))
      .select(col("u"), col("nbrs"), size(col("nbrs")).cast("long").as("deg"))
    val build = es.where(col("u") < col("v"))
      .join(adj.select(col("u"), col("nbrs").as("nu"), col("deg").as("deg_u")), "u")
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv"),
        col("deg").as("deg_v")), "v")
      .select(col("u"), col("v"),
        graft.catalyst.Kernels.sortedIntersectCount(col("nu"), col("nv")).as("cn"))
    val plan = build.queryExecution.sparkPlan
    assert(plan.toString.contains("sorted_intersect_count"),
      s"cn must use the native merge kernel:\n$plan")
    // walk the physical TREE (InMemoryTableScan is a leaf, so the cache's
    // own build exchanges don't count): at most the v-side re-key may
    // shuffle — the adjacency aggregate and the u-side join reuse the
    // cache's HashPartitioning(u), and small scales broadcast instead
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1,
      s"only the v-side re-key may shuffle — adjacency and the u-join " +
        s"must reuse the cache's u-partitioning:\n$plan")
  }
}
