package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Engine-wide scale invariants, swept over EVERY batch query's physical
  * plan: no cartesian products anywhere, broadcast nested-loop joins only
  * where one side is bounded by construction, and no data-sized relation
  * ever passes through a single-partition (unpartitioned) window. The
  * allowlists are the reviewed exceptions — a new operator that
  * introduces one of these shapes fails here until it is either fixed or
  * consciously allowed.
  *
  * The same per-key test holds the `SortAggregate` census: each key must
  * plan exactly as many `SortAggregate` nodes as its line in
  * docs/SORTAGG_CENSUS.txt (`Profile --census`; an unlisted key counts
  * 0), so the DataFrame is built once for both checks.
  */
class ScaleInvariantSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  /** Plans where a broadcast nested-loop join is the DESIGN: the
    * broadcast side is bounded by construction (a one-row query vector, a
    * ≤5-row query set, the per-label centroid table, the per-language
    * profile table, or a single-row global count). */
  private val bnljByDesign = Set(
    "vec_cosine_topk",  // × 1 query row
    "vec_knn_brute",    // × |queries| ≤ 5
    "ann_ivf_topk",     // × per-label centroid table
    "ann_ivf_pq_topk",  // × per-label centroid table (cell assignment)
    "text_langid",      // × per-language profile table
    "win_ntile_dense",  // × single-row global count
    "rank_tfidf",       // × single-row corpus-stats aggregate
    "rank_bm25",        // × single-row corpus-stats aggregate
    "rank_fusion_rrf",  // × single-row corpus stats + 1-row query vector
    "kmeans_assign_step", // × k=8 centroid table
    "zorder_layout",    // × single-row max(l_partkey), max(l_suppkey) row
    "zorder_prune_gain", // × single-row key-space bounds row
    "orders_aging_report", // × single-row max-day bound
    "bitmap_index_overlap", // × |types|-row bitmap relation (pair gen)
    "tfidf_vectorize",  // × single-row corpus doc-count aggregate
    "dedup_semantic_block", // × k=8 centroid table (kmeans blocking assign)
    "ann_recall_eval",  // composes vec_knn_brute × ann_ivf_topk (both above)
    "ann_ivf_nprobe_sweep", // × per-label centroid table + 1-row truth count
    "kmeans_train_iters", // × k=8 centroid table, twice (two Lloyd assigns)
    "zonemap_prune",    // × single-row chunks-scanned/total counter pair
    "graph_triangle_count", // × single-row global triangle-count total
    "graph_triangle_count_shuffle", // × the same single-row total (twin)
    "vec_prefix_rerank_topk", // × |queries| ≤ 5 (matryoshka staged retrieval)
    "basket_pair_support",  // × single-row distinct-order count
    "basket_triple_support", // × single-row distinct-order count
    "bpe_merge_step",       // × LIMIT-1 winning-pair relation
    "knn_classify_eval",    // × bounded probe panel (vec_id < 1000)
    "sketch_kmv_intersect", // × |types|-row KMV estimate table (pair gen)
    "layout_skew_report",   // × single-row (total, nkeys) aggregate
    "graph_kcore",          // × |V|-row alive set + 1-row count pairs
    "graph_kcore_shuffle",  // × 1-row count pairs (alive joins shuffled)
    "feed_consumer_lag",    // × 4-row synthetic consumer-offset table
    "vec_maxsim_topk",      // × bounded query panel (vec_id < 5)
    "vec_filtered_knn",     // × bounded query panel (vec_id < 5)
    "rec_coverage_metrics", // × single-row source/node count aggregates
    "price_index_period",   // × single-row era-midpoint bound
    "vocab_growth_heaps",   // × broadcast 10-row decile table
    "read_model_time_travel", // × single-row cursor bound
    "eval_ndcg",            // × bounded probe panel (vec_id < 500)
    "eval_mrr",             // × bounded probe panel (vec_id < 500)
    "confusion_knn_eval",   // × bounded probe panel (vec_id < 1000)
    "vec_hamming_topk",     // × bounded probe panel (vec_id < 5)
    "basket_rules_lift",    // × single-row distinct-order count
    "graph_modularity",     // × single-row directed-edge count
    "sketch_bloom_fpr",     // × 1-row FP counters + 128-word filter relation
    "eval_pr_auc",          // × value-bounded score-bucket histogram grid
    "feature_target_encode", // × single-row global prior
    "feed_manifest_merkle", // × single-row Merkle root digest
    "emb_covariance_topk",  // × single-row vector count (n for n·Σxy − ΣxΣy)
    "stats_selectivity_probe", // × 1-row stats + 3-row probe panel + 256-cell hist
    // range-partitioned histogram folds (api/Histograms.cumulativeFold):
    // the 1-row stats broadcast + the bounded (<=1024-row) superbucket
    // boundary self-join
    "auc_eval", "score_percentile_norm", "orders_value_pareto",
    "abc_xyz_matrix", "feature_bin_quantile",
    "corpus_shuffle_order", "train_shard_manifest", "quality_pipeline_e2e",
    "q15_top_supplier",  // × single-row max-revenue bound
    "q22_idle_customers", // × single-row positive-balance average
    "q11_important_stock", // × single-row global shipped-value total
    "feed_backfill_seq_plan" // × single-row (lo_seq, span) min/max aggregate
  )

  /** Plans where an unpartitioned window is the DESIGN: it runs over a
    * histogram/bucket relation (|buckets| rows), never over data rows —
    * the 2-pass global-rank pattern. */
  private val globalWindowByDesign = Set(
    "win_ntile_dense",      // value-range histogram
    "corpus_mix_weights",   // (lang, length-bucket) relation
    "feed_gap_detect",      // bucket min/max summary relation only
    "dedup_ngram_jaccard_prefix", // (df, prefix-bucket) histogram offsets only
    "dedup_containment",    // (df, prefix-bucket) histogram offsets only
    "rank_fusion_rrf",      // rank windows over ≤50-row LIMITed top-k arms
    "chisq_independence",   // |status|×|priority| contingency-cell relation
    "k_anonymity_check",    // quasi-identifier combo relation only
    "retention_sweep_plan", // calendar-sized daily relation only
    "drift_l1_buckets",     // value-bounded feature-band relation only
    "stump_split_gain",     // n_chars-band histogram only
    "rfm_segments",         // |users|-keyed aggregate; global max over it
  ) ++ Set(
    "stats_histogram_grid", // |bands|×|cents| grid relation only
    "dq_benford_digits",    // 9-digit histogram only
    "ab_test_lift",         // 2-row arm relation only
    "order_size_histogram", // ≤|max lines|-row histogram only
    "lm_kneser_ney",        // vocabulary-sized continuation-count relation
    "orders_backlog_daily", // calendar-day histogram only
    "ts_rolling_correlation", // calendar-day series only
    "feed_backfill_partition_plan" // page-histogram relation only
  )

  /** Queries whose heavy work happens eagerly at DataFrame-construction
    * time (driver union-find / hook+compress over localCheckpoints), so
    * the returned plan is just a scan of materialized results — its shape
    * says nothing about the real computation, so only the census counts
    * it. Their plan-shape guarantees live in the operators they compose
    * (dedup_ngram_jaccard) and TrainOpsSuite. */
  private val eagerlyMaterialized =
    Set("lm_greedy_decode", // 8 eager ≤1-row localCheckpoint step-jobs at
      // construction (the declarative chain walk) — no driver collect
      "dedup_cluster_cc", "dedup_cluster_cc_dist", "curation_pipeline_e2e",
      // bounded driver greedy over a collected 20-row shortlist; its
      // distributed stages share vec_cosine_topk's swept shape
      "retrieval_mmr")

  // Histograms.cumulativeFold must not FORCE the per-bucket boundary
  // relation (lvl2, up to 2^20 rows × specs) into a broadcast: with
  // size-based broadcasting disabled, any broadcast of an `_gh_b1j`-keyed
  // relation in the pre-AQE plan can only come from a static hint. The
  // 70k-bucket histogram also brute-force-checks the fold across >64
  // superbuckets (the regime the ≤1024-row summary join was designed for).
  test("cumulativeFold: 70k-bucket histogram is exact and lvl2 is not hint-broadcast") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val n = 70000
    val hist = spark.range(n)
      .select((col("id") * 7).as("v"), (col("id") % 13 + 1).as("w"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.api.Histograms.cumulativeFold(hist, col("v"),
        Seq(graft.api.Histograms.CumSpec(col("w"), "cum", Some("tot"))))
      val forced = out.queryExecution.sparkPlan.collect {
        case e: BroadcastExchangeExec if e.output.exists(_.name == "_gh_b1j") => e
      }
      assert(forced.isEmpty,
        "lvl2 (per-bucket boundary relation) is statically hint-broadcast; " +
          "its size is data-dependent and must be left to AQE")
      val rows = out.orderBy("v").collect()
      assert(rows.length == n)
      val tot = (0 until n).map(i => (i % 13 + 1).toLong).sum
      var run = 0L
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("cum") == run, s"row $i cumulative")
        assert(r.getAs[Long]("tot") == tot, s"row $i total")
        run += (i % 13 + 1).toLong
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // the superbucket all-pairs join yields both the prefix below each
  // superbucket and the grand totals: check both, per spec, across many
  // superbuckets, negative values and weights, and every fold direction
  test("cumulativeFold: two specs over negative values ≡ brute force, both orders, inclusive or not") {
    import org.apache.spark.sql.functions.col
    import graft.api.Histograms.{CumSpec, cumulativeFold}
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (0 until 50).map { i =>
      ((rnd.nextInt(2000) - 1000L) + i * 5000L * (if (i % 2 == 0) 1 else -1),
        rnd.nextInt(9) + 1L, rnd.nextInt(5) - 2L)
    }.distinctBy(_._1)
    val hist = rows.toDF("v", "w", "u")
    for (asc <- Seq(true, false); inclusive <- Seq(true, false)) {
      val got = cumulativeFold(hist, col("v"),
          Seq(CumSpec(col("w"), "cw", Some("tw")), CumSpec(col("u"), "cu", Some("tu"))),
          asc, inclusive)
        .select("v", "cw", "tw", "cu", "tu").as[(Long, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      def cum(v: Long, f: ((Long, Long, Long)) => Long) = rows.filter { r =>
        val before = if (asc) r._1 < v else r._1 > v
        before || (inclusive && r._1 == v)
      }.map(f).sum
      val want = rows.sortBy(_._1).map(r => (r._1, cum(r._1, _._2), rows.map(_._2).sum,
        cum(r._1, _._3), rows.map(_._3).sum))
      assert(got == want, s"ascending=$asc inclusive=$inclusive")
    }
  }

  private val census: Map[String, Int] = {
    val src = scala.io.Source.fromFile("docs/SORTAGG_CENSUS.txt")
    try src.getLines().map(_.trim.split("\\s+")).collect {
      case Array("SORTAGG", k, n) => k -> n.toInt
    }.toMap finally src.close()
  }

  test("docs/SORTAGG_CENSUS.txt lists only swept keys") {
    assert(census.nonEmpty, "the census file lists no key")
    val unknown = census.keySet -- Profile.censusKeys
    assert(unknown.isEmpty, s"census lines for keys the sweep does not plan: $unknown")
  }

  // streaming fixtures return materialized results: Profile.censusKeys skips them
  Profile.censusKeys.foreach { name =>
    val shaped = !eagerlyMaterialized(name)
    test(if (shaped) s"$name: no cartesian; BNLJ/global-window only by design"
         else s"$name: SortAggregate count matches docs/SORTAGG_CENSUS.txt") {
      graft.api.QueryHygiene.run(spark, name) {
        val df = SparkEntry.queries(name)(spark, d)
        if (shaped) {
          val plan = df.queryExecution.sparkPlan
          val cart = plan.collect { case c: CartesianProductExec => c }
          assert(cart.isEmpty, s"$name plans a cartesian product:\n$plan")
          val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
          if (!bnljByDesign(name))
            assert(bnlj.isEmpty,
              s"$name plans a broadcast nested-loop join with an unbounded side:\n$plan")
          val gw = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
          if (!globalWindowByDesign(name))
            assert(gw.isEmpty,
              s"$name moves data rows through a single-partition window:\n$plan")
        }
        val (n, listed) = (Profile.sortAggregates(df), census.getOrElse(name, 0))
        assert(n <= listed, s"$name plans $n SortAggregate nodes, more than its $listed in " +
          "docs/SORTAGG_CENSUS.txt (fix the plan, or justify raising its line)")
        assert(n >= listed, s"$name plans $n SortAggregate nodes, fewer than its $listed in " +
          "docs/SORTAGG_CENSUS.txt: regenerate the file with Profile --census")
      }
    }
  }
}
