package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.{Layout, Relevance, Sketches}
import graft.io.Tables
import graft.io.Tables.canon
import graft.catalyst.Kernels

/** §2.13 relevance, sketch & layout operators — ranking (TF-IDF / BM25),
  * a bigram-LM quality scorer, fixed-memory sketches (count-min heavy
  * hitters, Bloom-filter join pruning), one k-means Lloyd step over the
  * embeddings, Z-order layout statistics, and a skew-salted join. All
  * oracle-checked; every hash ingredient is md5-derived so both engines
  * compute identical buckets, and every float pipeline is fixed-order
  * arithmetic (per-term sums are written out in query order; per-instance
  * log-probs and distances are floor-quantized BEFORE integer summation,
  * so no result depends on shuffle merge order).
  *
  * Scale shapes:
  *  - ranking: one conditional aggregate per doc + a single broadcast
  *    stats row — no per-row subqueries;
  *  - sketches: construction pre-aggregates per item (map-side
  *    combinable), then folds the vocab-sized table into a fixed grid;
  *    grids/bit-sets are broadcast to probes;
  *  - k-means: centroids broadcast (nested-loop ×k per row), assignment
  *    reduced by a min(struct) aggregate — one shuffle carrying one row
  *    per vector;
  *  - Z-order: map-only value computation + one chunk aggregate;
  *  - salted join: the fact side never converges on a hot key's single
  *    reducer — [[graft.api.Layout.saltedJoin]].
  */
object StatsOps {

  /** Query terms for the ranking fixtures (high-df corpus tokens). */
  private val Terms = Seq("join", "hash", "filter")

  /** BM25 parameters — dyadic rationals on purpose: 1.25, 0.75, 0.25 and
    * 2.25 are exact in binary AND in decimal, so Spark double literals
    * and DuckDB decimal literals converge to identical values. */
  private val K1 = 1.25
  private val B = 0.75

  /** Bloom-filter build-side predicate (top ~2% of orders). */
  private val BloomPriceMin = 490000.0

  /** Z-order term SQL, mirrored exactly by [[graft.api.Layout.zValue]]:
    * fixed-order sum over bit positions of both coordinates. */
  private def zTermsSql(xe: String, ye: String, bits: Int = 8): String =
    (0 until bits).map { i =>
      val p = 1L << i
      s"(CAST(floor($xe / CAST($p AS DOUBLE)) AS BIGINT) % 2) * ${1L << (2 * i + 1)} + " +
        s"(CAST(floor($ye / CAST($p AS DOUBLE)) AS BIGINT) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TF-IDF ranking against a fixed query-term set: top-20 docs by
    // Σ tf·ln(N/df), fixed-order per-term sum, canon'd score.
    "rank_tfidf" -> ((s, d) => {
      Relevance.tfIdf(Tables.documents(s, d), col("doc_id"), col("text"), Terms)
        .select(col("id").as("doc_id"), col("dl"),
          col("tf_0"), col("tf_1"), col("tf_2"),
          canon(col("score")).as("score_c"))
        .orderBy(desc("score_c"), col("doc_id")).limit(20)
    }),

    // BM25 ranking, same query terms: doc-length normalization against
    // the corpus avgdl (k1=1.25, b=0.75 — dyadic, engine-portable).
    "rank_bm25" -> ((s, d) => {
      Relevance.bm25(Tables.documents(s, d), col("doc_id"), col("text"),
          Terms, k1 = K1, b = B)
        .select(col("id").as("doc_id"), col("dl"),
          canon(col("score")).as("score_c"))
        .orderBy(desc("score_c"), col("doc_id")).limit(20)
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical list
    // and the embedding-cosine list — the fusion stage every modern
    // lexical+vector search stack runs. Each arm contributes
    // floor(1e8/(60+rank)) integer units (the classic RRF k=60, scaled
    // to integers so the fused ordering is engine-exact); documents in
    // only one list score with the other arm absent. Both arms are
    // TakeOrderedAndProject top-50s; the rank windows then run over
    // those ≤50-row LIMITed relations (bounded by construction — at
    // 100 TB the top-k is still 50 rows), and the fusion join is
    // 50×50.
    "rank_fusion_rrf" -> ((s, d) => {
      val lexTop = Relevance.bm25(Tables.documents(s, d), col("doc_id"),
          col("text"), Terms, k1 = K1, b = B)
        .select(col("id").as("doc_id"), canon(col("score")).as("score_c"))
        .orderBy(col("score_c").desc, col("doc_id")).limit(50)
      val lex = lexTop.withColumn("rl", row_number().over(
          Window.orderBy(col("score_c").desc, col("doc_id"))))
        .select(col("doc_id"), col("rl"))
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val dotq = Kernels.vecDot(col("embedding"), col("qe"))
      val nE = sqrt(Kernels.vecDot(col("embedding"), col("embedding")))
      val nQ = sqrt(Kernels.vecDot(col("qe"), col("qe")))
      val vecTop = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .withColumn("cos_c", canon(dotq / (nE * nQ)))
        .select(col("vec_id"), col("cos_c"))
        .orderBy(col("cos_c").desc, col("vec_id")).limit(50)
      val vec = vecTop.withColumn("rv", row_number().over(
          Window.orderBy(col("cos_c").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rv"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf_c",
          coalesce(expr("CAST(100000000 AS BIGINT) div (60 + rl)"), lit(0L)) +
            coalesce(expr("CAST(100000000 AS BIGINT) div (60 + rv)"), lit(0L)))
        .select(col("doc_id"), col("rrf_c"))
        .orderBy(col("rrf_c").desc, col("doc_id")).limit(20)
    }),

    // Count-min heavy hitters over token instances: 4 md5 hash rows × 256
    // buckets; est = min over rows of the landed cell; est ≥ exact always.
    "heavy_hitters_cms" -> ((s, d) => {
      val inst = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tk"))
      Sketches.countMin(inst, col("tk"))
        .select(col("item").as("tk"), col("exact"), col("est"),
          (col("est") - col("exact")).as("overcount"))
        .orderBy(desc("exact"), col("tk")).limit(20)
    }),

    // Bloom-filter join pruning: build a 3-hash/4096-slot filter over the
    // big-spender custkeys, probe every customer, and report per nation
    // how many probe rows the filter passes vs truly match (the false
    // positives a runtime filter would send to the real join).
    "join_bloom_prune" -> ((s, d) => {
      val bkeys = Tables.orders(s, d)
        .filter(col("o_totalprice") > BloomPriceMin)
        .select(col("o_custkey").as("bk")).distinct()
      val bits = Sketches.bloomBits(bkeys, col("bk"))
      Sketches.bloomProbe(Tables.customer(s, d), col("c_custkey"), bits)
        .join(bkeys.withColumn("in_build", lit(1L)),
          col("c_custkey") === col("bk"), "left")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("in_build").isNotNull, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("bloom_pass") && col("in_build").isNull, 1L)
            .otherwise(0L)).as("n_fp"))
        .orderBy("c_nationkey")
    }),

    // RLE-friendliness of two physical layouts, measured: within each
    // layout's ~1024 chunks, the number of ADJACENT equal-value pairs
    // for the two secondary columns — the quantity run-length /
    // dictionary encoders actually compress. Natural (insertion) order
    // keeps l_orderkey runs but scatters part/supp keys; Z-order
    // clusters both — this op puts the number behind the layout choice
    // next to zorder_prune_gain's scan-pruning view. Windows are
    // chunk-partitioned (never global over data rows); chunks come from
    // key ranges, not global row numbers.
    "layout_rle_runs" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
      val m = li.agg(max("l_partkey").as("mp"), max("l_suppkey").as("ms"),
        max("l_orderkey").as("mo"))
      val sc = li.crossJoin(broadcast(m))
        .withColumn("x",
          floor(col("l_partkey") * lit(256.0) / (col("mp") + 1)).cast("long"))
        .withColumn("y",
          floor(col("l_suppkey") * lit(256.0) / (col("ms") + 1)).cast("long"))
        .withColumn("zval", Layout.zValue(col("x"), col("y")))
        .withColumn("zchunk", expr("zval div 64"))
        .withColumn("nchunk", expr("l_orderkey div ((mo div 1024) + 1)"))
        .localCheckpoint() // both layout passes read the same scaled rows
      def runs(chunk: String, ord: Seq[Column], layout: String) = {
        val w = Window.partitionBy(chunk).orderBy(ord: _*)
        sc.withColumn("ppk", lag(col("l_partkey"), 1).over(w))
          .withColumn("psk", lag(col("l_suppkey"), 1).over(w))
          .agg(lit(layout).as("layout"),
            countDistinct(col(chunk)).as("n_chunks"),
            sum(when(col("l_partkey") === col("ppk"), 1L).otherwise(0L))
              .as("adj_pk"),
            sum(when(col("l_suppkey") === col("psk"), 1L).otherwise(0L))
              .as("adj_sk"))
      }
      // the fixture reuses (orderkey, linenumber) — the value columns
      // join the sort key so the lag sequence is total (ties that
      // remain are identical value pairs, adjacency-invariant)
      runs("nchunk", Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")), "natural")
        .unionByName(
          runs("zchunk", Seq(col("zval"), col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")), "zorder"))
        .orderBy("layout")
    }),

    // Bigram-LM quality scoring (per-language add-one model trained on
    // the corpus itself): per-doc sum/mean of floor-quantized log-probs.
    "lm_score_bigram" -> ((s, d) => {
      Relevance.bigramLmScore(Tables.documents(s, d), col("doc_id"),
          col("lang"), col("text"))
        .select(col("id").as("doc_id"), col("group").as("lang"),
          col("n_big"), col("sum_lp_c").cast("long").as("sum_lp_c"),
          col("mean_lp_c"))
        .orderBy("doc_id")
    }),

    // Jelinek–Mercer interpolated bigram LM (λ = 0.5): per-term
    // p = ½·c(w₁w₂)/c(w₁) + ½·c(w₂)/N — the mixture smoothing that
    // backs off to the unigram instead of add-one mass. The log-prob is
    // the one float in the pipeline and both engines evaluate the
    // IDENTICAL parse tree (the KN/add-one discipline), floor-quantized
    // per term before the integer per-doc sum. Count tables are
    // vocabulary-sized; totals are |langs|-row.
    "lm_jelinek_mercer" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("toks"),
        Kernels.wordBigrams(col("text")).as("bigs"))
      val uni = base.select(col("lang"), explode(col("toks")).as("w"))
      val cu = uni.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      val nt = uni.groupBy("lang").agg(count(lit(1)).as("nt"))
      val bi = base.select(col("doc_id"), col("lang"), explode(col("bigs")).as("b"))
      val cb = bi.groupBy("lang", "b").agg(count(lit(1)).as("cb"))
      bi
        .join(cb, Seq("lang", "b"))
        .withColumn("w1", split(col("b"), " ").getItem(0))
        .withColumn("w2", split(col("b"), " ").getItem(1))
        .join(cu.select(col("lang"), col("w").as("w1"), col("c").as("cu1")), Seq("lang", "w1"))
        .join(cu.select(col("lang"), col("w").as("w2"), col("c").as("cu2")), Seq("lang", "w2"))
        .join(nt, Seq("lang"))
        .withColumn("lp", floor(log(lit(0.5) * col("cb") / col("cu1") +
          lit(0.5) * col("cu2") / col("nt")) * lit(10000.0)).cast("long"))
        .groupBy("doc_id")
        .agg(first(col("lang")).as("lang"), count(lit(1)).as("n_big"),
          sum(col("lp")).as("sum_lp_c"))
        .withColumn("mean_lp_c",
          floor(col("sum_lp_c") * lit(1.0) / col("n_big")).cast("long"))
        .orderBy("doc_id")
    }),

    // One k-means Lloyd step on the embeddings (centroids = vec_id < 8):
    // nearest-centroid assignment via min(struct(sqdist, cid)) — FP ties
    // break on cid identically in both engines — then per-cluster size,
    // floor-quantized within-cluster squared distance, and an integer
    // member-component checksum.
    "kmeans_assign_step" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val sqd = Kernels.vecSqDist(col("embedding"), col("cvec"))
      val best = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          struct(sqd.as("sqd"), col("cid").as("cid")).as("w"))
        .groupBy("vec_id").agg(min(col("w")).as("w"))
        .select(col("vec_id"), col("w.cid").as("cid"), col("w.sqd").as("sqd"))
      best.join(emb, "vec_id")
        .withColumn("comp_c",
          aggregate(transform(col("embedding"),
              x => floor(x.cast("double") * lit(10000.0))),
            lit(0L), (a, q) => a + q))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("sqd") * lit(10000.0))).cast("long").as("ssd_c"),
          sum(col("comp_c")).as("sum_comp_c"))
        .orderBy("cid")
    }),

    // Z-order layout statistics: bucket (l_partkey, l_suppkey) to 8 bits
    // each, Morton-interleave, cut the 16-bit Z space into 1024 chunks,
    // and report each chunk's min/max key ranges — the parquet footer
    // stats a Z-sorted 100 TB layout would prune scans with.
    "zorder_layout" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
      val mx = li.agg(max("l_partkey").as("mp"), max("l_suppkey").as("ms"))
      li.crossJoin(broadcast(mx))
        .withColumn("x",
          floor(col("l_partkey") * lit(256.0) / (col("mp") + 1)).cast("long"))
        .withColumn("y",
          floor(col("l_suppkey") * lit(256.0) / (col("ms") + 1)).cast("long"))
        .withColumn("zval", Layout.zValue(col("x"), col("y")))
        .groupBy(floor(col("zval") / lit(64.0)).cast("long").as("chunk"))
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
          min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"))
        .orderBy("chunk")
    }),

    // Z-order pruning gain, measured DIFFERENTIALLY: the same 2-D
    // predicate (an x,y square in the scaled key space) evaluated
    // against per-chunk zonemaps under TWO layouts — natural insertion
    // order (l_orderkey ranges) vs Morton order (zval ranges). The
    // natural layout's chunks each span the full key space (every chunk
    // hit); Z-order clusters the square into few chunks — the number
    // that justifies a CLUSTER BY at 100 TB, produced by the engine
    // itself.
    "zorder_prune_gain" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val mx = li.agg(max("l_partkey").as("mp"), max("l_suppkey").as("ms"),
        max("l_orderkey").as("mo"))
      val scaled = li.crossJoin(broadcast(mx))
        .withColumn("x",
          floor(col("l_partkey") * lit(256.0) / (col("mp") + 1)).cast("long"))
        .withColumn("y",
          floor(col("l_suppkey") * lit(256.0) / (col("ms") + 1)).cast("long"))
        .withColumn("zval", Layout.zValue(col("x"), col("y")))
        .withColumn("zchunk", expr("zval div 256"))
        .withColumn("nchunk", expr("l_orderkey div ((mo div 256) + 1)"))
      def layoutStats(chunkCol: String, name: String) = scaled
        .groupBy(col(chunkCol).as("chunk"))
        .agg(min("x").as("mnx"), max("x").as("mxx"),
          min("y").as("mny"), max("y").as("mxy"))
        .agg(lit(name).as("layout"), count(lit(1)).as("n_chunks"),
          sum(when(col("mxx") >= 64 && col("mnx") <= 95 &&
            col("mxy") >= 64 && col("mny") <= 95, 1L).otherwise(0L))
            .as("n_hit"))
        .withColumn("scan_ppm", expr("(n_hit * 1000000) div n_chunks"))
      layoutStats("nchunk", "natural")
        .unionByName(layoutStats("zchunk", "zorder"))
        .orderBy("layout")
    }),

    // Skew-salted enrichment join: events ⋈ customer on user_id with an
    // 8-way fact-side salt and a replicated dimension — byte-identical to
    // the plain join (the oracle is the unsalted SQL), but no hot user
    // ever lands its rows on a single reducer.
    "join_skew_salted" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      Layout.saltedJoin(ev, cust, "user_id", col("event_id"), nSalts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_ev"),
          sum(floor(col("value") * lit(10000.0))).cast("long").as("rev_c"))
        .orderBy("c_mktsegment")
    }),

    // Skew-salted two-stage aggregation (the agg twin of
    // join_skew_salted): stage 1 pre-aggregates on (key, salt) — the
    // 16-way md5 salt splits any hot key's rows across reducers — and
    // stage 2 combines the ≤16 partials per key. Count and integer sums
    // are merge-decomposable, so the result is byte-identical to the
    // direct groupBy (the oracle IS the unsalted SQL). Spark's own
    // partial aggregation covers this when upstream partitions are
    // balanced; the explicit salt stage is the shape for inputs arriving
    // pre-partitioned BY the hot key (post-join fan-in, sorted feeds),
    // where map-side combine sees one key per task and stops helping.
    "agg_skew_salted" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 2), 16, 10) " +
            "AS BIGINT) % 16").as("salt"),
          col("value"))
      ev.groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"),
          sum(floor(col("value") * lit(10000.0)).cast("long")).as("pv"))
        .groupBy("event_type")
        .agg(sum("pn").as("n_ev"), sum("pv").as("value_c"))
        .orderBy("event_type")
    }),

    // Held-out LM evaluation: the add-one bigram model's counts come from
    // the TRAIN split (doc_id % 100 ≠ 0) only; held-out docs
    // (doc_id % 100 = 0) are scored against them — unseen bigrams and
    // contexts degrade gracefully under add-one smoothing. The
    // cross-validation form of lm_score_bigram.
    "lm_perplexity_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Relevance.bigramLmEval(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0),
          col("doc_id"), col("lang"), col("text"))
        .select(col("id").as("doc_id"), col("group").as("lang"),
          col("n_big"), col("sum_lp_c").cast("long").as("sum_lp_c"),
          col("mean_lp_c"))
        .orderBy("doc_id")
    }),

    // Partition-pruned scan: orders stored partitioned by order year; a
    // one-year filter reads ONE partition directory (PartitionFilters in
    // the scan, pinned in PlanSuite) — at 100 TB the layout that turns a
    // full-table scan into a single partition read. Result equals the
    // unpartitioned SQL.
    "scan_partition_prune" -> ((s, d) => {
      val t = Layout.partitionedTable(s,
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"), year(col("o_orderdate")).as("o_year")),
        "graft_part_orders", d, "o_year")
      t.filter(col("o_year") === 1998)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * lit(100.0)).cast("long")).as("price_c"))
        .orderBy("o_orderpriority")
    }),

    // Robust outlier screen per event type: exact median, median absolute
    // deviation (the robust spread measure a monitoring pipeline uses
    // where stddev is hostage to the outliers it's hunting), and the
    // count of |x − med| > 3·MAD rows. Spark `percentile` ≡ DuckDB
    // `quantile_cont` ([verified], SURVEY §2.3); the median/MAD rows are
    // |types|-sized and broadcast back to the data.
    "anomaly_mad" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5D)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_out"),
          canon(first(col("med"))).as("med_c"),
          canon(first(col("mad"))).as("mad_c"))
        .orderBy("event_type")
    }),

    // Bucketed co-located join: orders and lineitem stored bucketed +
    // sorted on the join key (16 buckets) sort-merge-join with NO shuffle
    // exchange on either side — the layout a 100 TB star schema persists
    // so the fact table is never re-shuffled per query. The merge hint
    // pins SMJ (broadcast would also skip the exchange, proving nothing);
    // the shuffle-free plan is asserted in PlanSuite. Result is the plain
    // join (oracle = unbucketed SQL); the one-time bucketed write is the
    // fixture's stand-in for the warehouse's ingest-time layout job.
    "join_bucketed" -> ((s, d) => {
      // the raw path is the table identity (Layout digests it into the
      // physical name) — two datasets can never share a cached table
      val o = Layout.bucketedTable(s,
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        "graft_bkt_orders", d, "o_orderkey")
      val l = Layout.bucketedTable(s,
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_bkt_lineitem", d, "l_orderkey")
      o.hint("merge")
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * lit(100.0)).cast("long")).as("rev_c"))
        .orderBy("o_orderpriority")
    })
  )

  def oracles: Map[String, String] = Map(
    "rank_tfidf" ->
      s"""WITH d0 AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |tfs AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf_0,
        |    CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf_1,
        |    CAST(len(list_filter(toks, x -> x = 'filter')) AS BIGINT) AS tf_2
        |  FROM d0),
        |st AS (SELECT count(*) AS nn,
        |    sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df_0,
        |    sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS df_1,
        |    sum(CASE WHEN list_contains(toks, 'filter') THEN 1 ELSE 0 END) AS df_2
        |  FROM d0)
        |SELECT doc_id, dl, tf_0, tf_1, tf_2,
        |  CAST(floor((
        |    (CASE WHEN tf_0 > 0 THEN tf_0 * ln(CAST(nn AS DOUBLE) / df_0) ELSE 0 END) +
        |    (CASE WHEN tf_1 > 0 THEN tf_1 * ln(CAST(nn AS DOUBLE) / df_1) ELSE 0 END) +
        |    (CASE WHEN tf_2 > 0 THEN tf_2 * ln(CAST(nn AS DOUBLE) / df_2) ELSE 0 END)
        |  ) * 10000) AS BIGINT) AS score_c
        |FROM tfs CROSS JOIN st
        |ORDER BY score_c DESC, doc_id LIMIT 20""".stripMargin,

    "rank_bm25" ->
      s"""WITH d0 AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |tfs AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf_0,
        |    CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf_1,
        |    CAST(len(list_filter(toks, x -> x = 'filter')) AS BIGINT) AS tf_2
        |  FROM d0),
        |st AS (SELECT count(*) AS nn, sum(len(toks)) AS sumdl,
        |    sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df_0,
        |    sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS df_1,
        |    sum(CASE WHEN list_contains(toks, 'filter') THEN 1 ELSE 0 END) AS df_2
        |  FROM d0)
        |SELECT doc_id, dl,
        |  CAST(floor((
        |    ln((nn - df_0 + 0.5) / CAST(df_0 + 0.5 AS DOUBLE) + 1.0) * (tf_0 * 2.25) /
        |      (tf_0 + 1.25 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / nn))) +
        |    ln((nn - df_1 + 0.5) / CAST(df_1 + 0.5 AS DOUBLE) + 1.0) * (tf_1 * 2.25) /
        |      (tf_1 + 1.25 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / nn))) +
        |    ln((nn - df_2 + 0.5) / CAST(df_2 + 0.5 AS DOUBLE) + 1.0) * (tf_2 * 2.25) /
        |      (tf_2 + 1.25 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / nn)))
        |  ) * 10000) AS BIGINT) AS score_c
        |FROM tfs CROSS JOIN st
        |ORDER BY score_c DESC, doc_id LIMIT 20""".stripMargin,

    "rank_fusion_rrf" ->
      """WITH d0 AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |tfs AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf_0,
        |    CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf_1,
        |    CAST(len(list_filter(toks, x -> x = 'filter')) AS BIGINT) AS tf_2
        |  FROM d0),
        |st AS (SELECT count(*) AS nn, sum(len(toks)) AS sumdl,
        |    sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df_0,
        |    sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS df_1,
        |    sum(CASE WHEN list_contains(toks, 'filter') THEN 1 ELSE 0 END) AS df_2
        |  FROM d0),
        |bm AS (SELECT doc_id,
        |  CAST(floor((
        |    ln((nn - df_0 + 0.5) / CAST(df_0 + 0.5 AS DOUBLE) + 1.0) * (tf_0 * 2.25) /
        |      (tf_0 + 1.25 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / nn))) +
        |    ln((nn - df_1 + 0.5) / CAST(df_1 + 0.5 AS DOUBLE) + 1.0) * (tf_1 * 2.25) /
        |      (tf_1 + 1.25 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / nn))) +
        |    ln((nn - df_2 + 0.5) / CAST(df_2 + 0.5 AS DOUBLE) + 1.0) * (tf_2 * 2.25) /
        |      (tf_2 + 1.25 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / nn)))
        |  ) * 10000) AS BIGINT) AS score_c
        |  FROM tfs CROSS JOIN st
        |  ORDER BY score_c DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY score_c DESC, doc_id) AS rl FROM bm),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |cs AS (SELECT vec_id,
        |  CAST(floor((
        |    list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b) /
        |    (sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) *
        |     sqrt(list_reduce(list_transform(generate_series(1, len(qe)),
        |      i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b)))
        |  ) * 10000) AS BIGINT) AS cos_c
        |  FROM embeddings, q WHERE vec_id <> 0),
        |vt AS (SELECT vec_id, cos_c FROM cs ORDER BY cos_c DESC, vec_id LIMIT 50),
        |vrk AS (SELECT vec_id AS doc_id,
        |    row_number() OVER (ORDER BY cos_c DESC, vec_id) AS rv FROM vt),
        |f AS (SELECT COALESCE(lex.doc_id, vrk.doc_id) AS doc_id,
        |    COALESCE(100000000 // (60 + rl), 0) + COALESCE(100000000 // (60 + rv), 0) AS rrf_c
        |  FROM lex FULL OUTER JOIN vrk ON lex.doc_id = vrk.doc_id)
        |SELECT doc_id, CAST(rrf_c AS BIGINT) AS rrf_c FROM f
        |ORDER BY rrf_c DESC, doc_id LIMIT 20""".stripMargin,

    "heavy_hitters_cms" ->
      """WITH inst AS (SELECT unnest(str_split(text, ' ')) AS tk FROM documents),
        |tc AS (SELECT tk, count(*) AS c FROM inst GROUP BY tk),
        |g AS (SELECT tc.tk, tc.c, t.s,
        |    substr(md5(CAST(t.s AS VARCHAR) || ':' || tk), 1, 2) AS b
        |  FROM tc CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) t),
        |cells AS (SELECT s, b, sum(c) AS cell FROM g GROUP BY s, b),
        |est AS (SELECT g.tk, g.c, min(cells.cell) AS est
        |  FROM g JOIN cells ON g.s = cells.s AND g.b = cells.b
        |  GROUP BY g.tk, g.c)
        |SELECT tk, CAST(c AS BIGINT) AS exact, CAST(est AS BIGINT) AS est,
        |  CAST(est - c AS BIGINT) AS overcount
        |FROM est ORDER BY exact DESC, tk LIMIT 20""".stripMargin,

    "join_bloom_prune" ->
      s"""WITH bk AS (SELECT DISTINCT o_custkey AS k FROM orders
        |    WHERE o_totalprice > $BloomPriceMin),
        |bits AS (SELECT DISTINCT t.s,
        |    substr(md5(CAST(t.s AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 3) AS slot
        |  FROM bk CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS s) t),
        |probe AS (SELECT c_custkey, c_nationkey,
        |    (SELECT count(*) FROM (SELECT unnest(generate_series(0, 2)) AS s) t
        |      JOIN bits ON bits.s = t.s AND bits.slot =
        |        substr(md5(CAST(t.s AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR)), 1, 3)
        |    ) = 3 AS pass,
        |    EXISTS (SELECT 1 FROM bk WHERE k = c_custkey) AS tru
        |  FROM customer)
        |SELECT c_nationkey, count(*) AS n_cust,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN tru THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |  CAST(sum(CASE WHEN pass AND NOT tru THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
        |FROM probe GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "layout_rle_runs" -> {
      val z = zTermsSql("x", "y")
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |  FROM lineitem),
        |m AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms,
        |    max(l_orderkey) AS mo FROM li),
        |sc AS (SELECT li.*,
        |    CAST(floor(l_partkey * 256.0 / (m.mp + 1)) AS BIGINT) AS x,
        |    CAST(floor(l_suppkey * 256.0 / (m.ms + 1)) AS BIGINT) AS y,
        |    m.mo FROM li, m),
        |zz AS (SELECT *, ($z) AS zval, ($z) // 64 AS zchunk,
        |    l_orderkey // ((mo // 1024) + 1) AS nchunk FROM sc),
        |natl AS (SELECT nchunk, l_partkey, l_suppkey,
        |    lag(l_partkey) OVER
        |      (PARTITION BY nchunk ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS ppk,
        |    lag(l_suppkey) OVER
        |      (PARTITION BY nchunk ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS psk
        |  FROM zz),
        |nat AS (SELECT 'natural' AS layout,
        |    CAST(count(DISTINCT nchunk) AS BIGINT) AS n_chunks,
        |    CAST(sum(CASE WHEN l_partkey = ppk THEN 1 ELSE 0 END) AS BIGINT) AS adj_pk,
        |    CAST(sum(CASE WHEN l_suppkey = psk THEN 1 ELSE 0 END) AS BIGINT) AS adj_sk
        |  FROM natl),
        |zol AS (SELECT zchunk, l_partkey, l_suppkey,
        |    lag(l_partkey) OVER
        |      (PARTITION BY zchunk ORDER BY zval, l_orderkey, l_linenumber, l_partkey, l_suppkey) AS ppk,
        |    lag(l_suppkey) OVER
        |      (PARTITION BY zchunk ORDER BY zval, l_orderkey, l_linenumber, l_partkey, l_suppkey) AS psk
        |  FROM zz),
        |zo AS (SELECT 'zorder' AS layout,
        |    CAST(count(DISTINCT zchunk) AS BIGINT) AS n_chunks,
        |    CAST(sum(CASE WHEN l_partkey = ppk THEN 1 ELSE 0 END) AS BIGINT) AS adj_pk,
        |    CAST(sum(CASE WHEN l_suppkey = psk THEN 1 ELSE 0 END) AS BIGINT) AS adj_sk
        |  FROM zol)
        |SELECT * FROM nat UNION ALL SELECT * FROM zo ORDER BY layout""".stripMargin
    },

    "lm_jelinek_mercer" ->
      """WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents),
        |bi AS (SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS b
        |  FROM t),
        |uni AS (SELECT lang, unnest(toks) AS w FROM t),
        |cu AS (SELECT lang, w, count(*) AS c FROM uni GROUP BY lang, w),
        |nt AS (SELECT lang, count(*) AS nt FROM uni GROUP BY lang),
        |sc AS (SELECT bi.doc_id, bi.lang,
        |    CAST(floor(ln(0.5 * cb.c / cu1.c + 0.5 * cu2.c / nt.nt) * 10000)
        |      AS BIGINT) AS lp
        |  FROM bi
        |    JOIN (SELECT lang, b, count(*) AS c FROM bi GROUP BY lang, b) cb
        |      ON bi.lang = cb.lang AND bi.b = cb.b
        |    JOIN cu cu1 ON bi.lang = cu1.lang AND str_split(bi.b, ' ')[1] = cu1.w
        |    JOIN cu cu2 ON bi.lang = cu2.lang AND str_split(bi.b, ' ')[2] = cu2.w
        |    JOIN nt ON bi.lang = nt.lang)
        |SELECT doc_id, any_value(lang) AS lang, count(*) AS n_big,
        |  CAST(sum(lp) AS BIGINT) AS sum_lp_c,
        |  CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT) AS mean_lp_c
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "lm_score_bigram" ->
      """WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents),
        |bi AS (SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS b
        |  FROM t),
        |uni AS (SELECT lang, unnest(toks) AS w FROM t),
        |cu AS (SELECT lang, w, count(*) AS c FROM uni GROUP BY lang, w),
        |vb AS (SELECT lang, count(DISTINCT w) AS v FROM uni GROUP BY lang),
        |sc AS (SELECT bi.doc_id, bi.lang,
        |    CAST(floor(ln(CAST(cb.c + 1 AS DOUBLE) / (cu.c + vb.v)) * 10000)
        |      AS BIGINT) AS lp
        |  FROM bi
        |    JOIN (SELECT lang, b, count(*) AS c FROM bi GROUP BY lang, b) cb
        |      ON bi.lang = cb.lang AND bi.b = cb.b
        |    JOIN cu ON bi.lang = cu.lang AND str_split(bi.b, ' ')[1] = cu.w
        |    JOIN vb ON bi.lang = vb.lang)
        |SELECT doc_id, any_value(lang) AS lang, count(*) AS n_big,
        |  CAST(sum(lp) AS BIGINT) AS sum_lp_c,
        |  CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT) AS mean_lp_c
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "kmeans_assign_step" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |    WHERE vec_id < 8),
        |a AS (SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
        |           (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))),
        |      (x, y) -> x + y) AS sqd
        |  FROM embeddings e CROSS JOIN c),
        |m AS (SELECT vec_id, min(sqd) AS msqd FROM a GROUP BY vec_id),
        |pick AS (SELECT a.vec_id, min(a.cid) AS cid, min(a.sqd) AS sqd
        |  FROM a JOIN m ON a.vec_id = m.vec_id AND a.sqd = m.msqd
        |  GROUP BY a.vec_id)
        |SELECT cid, count(*) AS n,
        |  CAST(sum(floor(sqd * 10000)) AS BIGINT) AS ssd_c,
        |  CAST(sum(list_reduce(list_transform(e.embedding,
        |    x -> floor(CAST(x AS DOUBLE) * 10000)), (x, y) -> x + y)) AS BIGINT)
        |    AS sum_comp_c
        |FROM pick JOIN embeddings e ON pick.vec_id = e.vec_id
        |GROUP BY cid ORDER BY cid""".stripMargin,

    "zorder_layout" -> {
      val z = zTermsSql("x", "y")
      s"""WITH mx AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
        |b AS (SELECT l_partkey, l_suppkey,
        |    CAST(floor(CAST(l_partkey * 256 AS DOUBLE) / (mp + 1)) AS BIGINT) AS x,
        |    CAST(floor(CAST(l_suppkey * 256 AS DOUBLE) / (ms + 1)) AS BIGINT) AS y
        |  FROM lineitem CROSS JOIN mx),
        |z AS (SELECT l_partkey, l_suppkey, $z AS zval FROM b)
        |SELECT CAST(floor(zval / CAST(64 AS DOUBLE)) AS BIGINT) AS chunk,
        |  count(*) AS n,
        |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
        |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
        |FROM z GROUP BY chunk ORDER BY chunk""".stripMargin
    },

    "zorder_prune_gain" -> {
      val z = zTermsSql("x", "y")
      s"""WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem),
        |m AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms,
        |    max(l_orderkey) AS mo FROM li),
        |sc AS (SELECT l_orderkey,
        |    CAST(floor(l_partkey * 256.0 / (m.mp + 1)) AS BIGINT) AS x,
        |    CAST(floor(l_suppkey * 256.0 / (m.ms + 1)) AS BIGINT) AS y,
        |    m.mo FROM li, m),
        |zz AS (SELECT *, ($z) // 256 AS zchunk,
        |    l_orderkey // ((mo // 256) + 1) AS nchunk FROM sc),
        |na AS (SELECT nchunk AS chunk, min(x) AS mnx, max(x) AS mxx,
        |    min(y) AS mny, max(y) AS mxy FROM zz GROUP BY 1),
        |za AS (SELECT zchunk AS chunk, min(x) AS mnx, max(x) AS mxx,
        |    min(y) AS mny, max(y) AS mxy FROM zz GROUP BY 1),
        |ns AS (SELECT 'natural' AS layout, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN mxx >= 64 AND mnx <= 95 AND mxy >= 64
        |      AND mny <= 95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit FROM na),
        |zs AS (SELECT 'zorder', count(*),
        |    CAST(sum(CASE WHEN mxx >= 64 AND mnx <= 95 AND mxy >= 64
        |      AND mny <= 95 THEN 1 ELSE 0 END) AS BIGINT) FROM za),
        |u AS (SELECT * FROM ns UNION ALL SELECT * FROM zs)
        |SELECT layout, n_chunks, n_hit,
        |  (n_hit * 1000000) // n_chunks AS scan_ppm
        |FROM u ORDER BY layout""".stripMargin
    },

    // the oracle is the DIRECT (unsalted) aggregate — the salted
    // two-stage plan must be byte-identical to it
    "agg_skew_salted" ->
      """SELECT event_type, count(*) AS n_ev,
        |  CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "join_skew_salted" ->
      """SELECT c_mktsegment, count(*) AS n_ev,
        |  CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "lm_perplexity_eval" ->
      """WITH tr AS (SELECT doc_id, lang, str_split(text, ' ') AS toks
        |    FROM documents WHERE doc_id % 100 <> 0),
        |ev AS (SELECT doc_id, lang, str_split(text, ' ') AS toks
        |    FROM documents WHERE doc_id % 100 = 0),
        |tuni AS (SELECT lang, unnest(toks) AS w FROM tr),
        |cu AS (SELECT lang, w, count(*) AS c FROM tuni GROUP BY lang, w),
        |vb AS (SELECT lang, count(DISTINCT w) AS v FROM tuni GROUP BY lang),
        |cb AS (SELECT lang, b, count(*) AS c FROM
        |    (SELECT lang, unnest(list_transform(generate_series(1, len(toks) - 1),
        |       i -> toks[i] || ' ' || toks[i + 1])) AS b FROM tr)
        |  GROUP BY lang, b),
        |ebi AS (SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS b
        |  FROM ev),
        |sc AS (SELECT ebi.doc_id, ebi.lang,
        |    CAST(floor(ln((coalesce(cb.c, 0) + 1.0) /
        |      (coalesce(cu.c, 0) + vb.v)) * 10000) AS BIGINT) AS lp
        |  FROM ebi
        |    LEFT JOIN cb ON ebi.lang = cb.lang AND ebi.b = cb.b
        |    LEFT JOIN cu ON ebi.lang = cu.lang
        |      AND str_split(ebi.b, ' ')[1] = cu.w
        |    JOIN vb ON ebi.lang = vb.lang)
        |SELECT doc_id, any_value(lang) AS lang, count(*) AS n_big,
        |  CAST(sum(lp) AS BIGINT) AS sum_lp_c,
        |  CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT) AS mean_lp_c
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // partitioning changes the PLAN, never the result
    "scan_partition_prune" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
        |    AS price_c
        |FROM orders WHERE year(o_orderdate) = 1998
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "anomaly_mad" ->
      """WITH md AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |    FROM events GROUP BY event_type),
        |dv AS (SELECT e.event_type, abs(e.value - md.med) AS adev, md.med
        |  FROM events e JOIN md ON e.event_type = md.event_type),
        |ma AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dv GROUP BY event_type)
        |SELECT dv.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN dv.adev > 3.0 * ma.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_out,
        |  CAST(floor(min(dv.med) * 10000) AS BIGINT) AS med_c,
        |  CAST(floor(min(ma.mad) * 10000) AS BIGINT) AS mad_c
        |FROM dv JOIN ma ON dv.event_type = ma.event_type
        |GROUP BY dv.event_type ORDER BY dv.event_type""".stripMargin,

    // the bucketed layout changes the PLAN, never the result
    "join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0)
        |    AS BIGINT)) AS BIGINT) AS rev_c
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
