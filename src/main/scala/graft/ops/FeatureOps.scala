package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.api.{Sampling, Sketches}
import graft.io.Tables
import graft.io.Tables.canon100
import graft.catalyst.Kernels

/** §2.17 feature-extraction & cohort operators — the statistics an
  * embedding-training / analytics pipeline derives from the corpus and the
  * event feed: word co-occurrence PMI (the word2vec/GloVe input statistic),
  * per-document TF-IDF feature terms, semantic (kmeans-cell-blocked)
  * embedding dedup, a KMV distinct-count sketch that is bit-reproducible —
  * so, unlike HLL, oracle-checkable — and weekly cohort retention.
  * All oracle-checked; every ranking orders by pre-quantized integers, so
  * no float ever decides a row's presence or position.
  *
  * Scale shapes:
  *  - PMI: counts reduce to VOCABULARY-sized relations before any join;
  *    the per-language totals row set is |langs| and broadcast; the top-k
  *    window runs over the filtered pair-count table, never instances.
  *  - TF-IDF: document-frequency is one vocab-keyed aggregate joined back
  *    to per-doc term counts (auto-broadcast here; a vocab-keyed shuffle
  *    at 100 TB); the per-doc window partitions by doc_id.
  *  - semantic dedup: the kmeans assignment is a ×k broadcast of 8
  *    centroids; pairs join only WITHIN a cell — candidate volume is
  *    bounded by cell sizes, never corpus², same as IVF search.
  *  - KMV: per-group state is k rows regardless of data volume (see
  *    [[graft.api.Sketches.kmvDistinct]]).
  *  - cohort retention: one min-aggregate per user, a user-keyed join
  *    back (co-partitioned with the aggregate), one distinct, one count.
  */
object FeatureOps {

  private val WeekUs = 7L * 86400L * 1000000L

  /** ln of a ratio of exact BIGINT products — both engines compute the
    * integer numerator/denominator exactly, one double division, one ln:
    * bit-identical across Spark and DuckDB. At 100 TB the products
    * overflow int64 and the sum-of-logs form (ln a + ln b − …) replaces
    * this; the fixture corpus stays far inside the exact-integer range,
    * which is what makes the oracle hash-match. */
  private def lnRatio(num: org.apache.spark.sql.Column,
                      den: org.apache.spark.sql.Column) =
    log(num.cast("double") / den.cast("double"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Word co-occurrence PMI per language: adjacent word pairs (the
    // native word_bigrams kernel) vs unigram frequencies;
    // pmi = ln(p(a,b) / (p(a)·p(b))) computed as one ln of a ratio of
    // exact integer products. Top-20 pairs per language by the INTEGER
    // pair count (never by the float pmi), pmi floor-canonicalized.
    "cooccur_pmi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val uni = docs
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c_w"))
      val uniTot = uni.groupBy("lang").agg(sum("c_w").as("tot_u"))
      // ONE bigram explode: totals come from the unfiltered pair counts
      // (vocabulary-sized), exactly as uniTot derives from uni
      val biAll = docs
        .select(col("lang"),
          explode(Kernels.wordBigrams(col("text"))).as("bg"))
        .groupBy("lang", "bg").agg(count(lit(1)).as("c_ab"))
      val biTot = biAll.groupBy("lang").agg(sum("c_ab").as("tot_b"))
      val bi = biAll
        .filter(col("c_ab") >= 5)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
      val ua = uni.select(col("lang"), col("w").as("w1"), col("c_w").as("c_a"))
      val ub = uni.select(col("lang"), col("w").as("w2"), col("c_w").as("c_b"))
      // overflow guard: every factor is ≤ tot_u, so both triple products
      // are ≤ tot_u³ — with tot_u ≤ 2e6 that is ≤ 8e18 < Long.Max. Spark
      // (non-ANSI) would WRAP silently past that while DuckDB raises, so
      // past the bound this fails loudly instead of hash-diverging; the
      // sum-of-logs form is the documented replacement at that scale.
      val scored = bi
        .join(ua, Seq("lang", "w1")).join(ub, Seq("lang", "w2"))
        .join(broadcast(uniTot), Seq("lang"))
        .join(broadcast(biTot), Seq("lang"))
        .withColumn("pmi_c", when(col("tot_u") <= lit(2000000L),
          canon100(lnRatio(
            col("c_ab") * col("tot_u") * col("tot_u"),
            col("tot_b") * col("c_a") * col("c_b"))))
          .otherwise(raise_error(
            lit("cooccur_pmi: tot_u exceeds the exact-int64 range; " +
              "use the sum-of-logs form")).cast("long")))
      val w = Window.partitionBy("lang").orderBy(col("c_ab").desc, col("bg"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 20)
        .select(col("lang"), col("bg"), col("c_ab"), col("pmi_c"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // Per-document TF-IDF feature terms: corpus-wide document frequency
    // and doc count; per doc (doc_id < 500 — extraction slice; the
    // STATISTICS stay corpus-wide) the top-3 terms by floor-quantized
    // tf·ln(N/df), ranked on the quantized integer with the token as
    // tiebreak.
    "tfidf_vectorize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val inst = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      val dfTab = inst.select(col("doc_id"), col("tk")).distinct()
        .groupBy("tk").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tf = inst.filter(col("doc_id") < 500)
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val scored = tf.join(dfTab, Seq("tk"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score_c", canon100(
          col("tf") * log(col("n_docs").cast("double") / col("df").cast("double"))))
      val w = Window.partitionBy("doc_id").orderBy(col("score_c").desc, col("tk"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("tk"), col("tf"), col("df"), col("score_c"), col("rk"))
        .orderBy("doc_id", "rk")
    }),

    // Semantic near-dup via learned blocking: assign every embedding to
    // its nearest kmeans centroid (centroids = vec_id < 8, the same
    // coarse quantizer as kmeans_assign_step / IVF), then exact
    // cosine ≥ 0.35 pairs WITHIN each cell. Cross-cell near-dups are
    // missed by design — that is the ANN trade the blocking buys; the
    // unblocked LSH variant (dedup_embedding_lsh) covers the other end.
    "dedup_semantic_block" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val sqd = Kernels.vecSqDist(col("embedding"), col("cvec"))
      val assigned = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"),
          struct(sqd.as("sqd"), col("cid").as("cid")).as("wst"))
        .groupBy("vec_id").agg(min(col("wst")).as("wst"))
        .select(col("vec_id"), col("wst.cid").as("cid"))
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .withColumn("nrm",
          sqrt(Kernels.vecDot(col("embedding"), col("embedding"))))
      val a = assigned.select(col("cid"), col("vec_id").as("v1"),
        col("embedding").as("e1"), col("nrm").as("nrm1"))
      val b = assigned.select(col("cid"), col("vec_id").as("v2"),
        col("embedding").as("e2"), col("nrm").as("nrm2"))
      a.join(b, Seq("cid")).filter(col("v1") < col("v2"))
        .withColumn("cos",
          Kernels.vecDot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2")))
        .filter(col("cos") >= 0.35)
        .select(col("cid"), col("v1"), col("v2"), Tables.canon(col("cos")).as("cos_c"))
        .orderBy("v1", "v2")
    }),

    // KMV distinct-count sketch per event_type, next to the exact count:
    // est = (k−1)/u_k from md5-derived uniforms — a SKETCH whose estimate
    // hash-matches an independent engine, unlike approx_count_distinct
    // (which is why agg_approx_distinct is the one no-oracle query).
    "distinct_kmv_sketch" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Sketches.kmvDistinct(ev, col("event_type"), col("user_id"), k = 32)
        .select(col("group").as("event_type"), col("n_exact"),
          canon100(col("est")).as("est_c"))
        .orderBy("event_type")
    }),

    // KMV MERGEABILITY, proven differentially: per-day partial sketches
    // (local k-minima per (type, day) — the shards a 1000-executor
    // ingest builds independently) merged by union + re-rank give the
    // SAME estimate as the direct global sketch: the global k-minima are
    // always contained in the union of per-shard k-minima. The oracle is
    // the DIRECT sketch's SQL — if merging lost information, the hash
    // would not match.
    "sketch_kmv_merge" -> ((s, d) => {
      val k = 32
      val ev = Tables.events(s, d)
      val dist = ev
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"),
          col("user_id"))
        .distinct()
        .withColumn("u", Sampling.hashUniform(col("user_id")))
      val wDay = Window.partitionBy("event_type", "day")
        .orderBy(col("u"), col("user_id"))
      val partial = dist
        .withColumn("rn", row_number().over(wDay)).filter(col("rn") <= k)
        .select(col("event_type"), col("user_id"), col("u"))
      // merged relation ≤ k·nDays rows per type — bounded by
      // construction, so the plain per-type rank window is safe here
      val wAll = Window.partitionBy("event_type").orderBy(col("u"), col("user_id"))
      val kth = partial.distinct()
        .withColumn("rk", row_number().over(wAll)).filter(col("rk") === k)
        .select(col("event_type"), col("u").as("u_k"))
      ev.select(col("event_type"), col("user_id")).distinct()
        .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
        .join(kth, Seq("event_type"), "left")
        .select(col("event_type"), col("n_exact"),
          canon100(when(col("u_k").isNotNull,
              lit((k - 1).toDouble) / col("u_k"))
            .otherwise(col("n_exact").cast("double"))).as("est_c"))
        .orderBy("event_type")
    }),

    // Weekly cohort retention: users cohorted by first-activity week,
    // every (cohort_week, weeks-since) cell counts the cohort's users
    // active that week — the engagement matrix every analytics stack
    // derives from an event feed.
    "cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr(s"ts_us div $WeekUs").as("wk"))
      val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val active = ev.distinct()
      active.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_off"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "wk_off")
    }),

    // EXACT bitmap-index audience overlap — the precise twin of
    // sketch_kmv_intersect: per event type, a 1024-bit presence bitmap
    // over user buckets (native bitset kernel, array<bigint> of 16
    // words); every type pair's overlap/sizes by codegen'd popcounts of
    // word-wise ANDs. A bitmap index is O(|universe|/64) words per key
    // no matter the row count — the roaring-style structure an engine
    // keeps for low-cardinality columns.
    "bitmap_index_overlap" -> ((s, d) => {
      val bm = Tables.events(s, d)
        .select(col("event_type"),
          (expr("user_id % 1024") + 1).cast("int").as("bucket"))
        .groupBy("event_type")
        .agg(collect_set(col("bucket")).as("buckets"))
        .select(col("event_type"),
          Kernels.bitsetFromIds(col("buckets"), lit(16)).as("bs"))
      val a = bm.select(col("event_type").as("ta"), col("bs").as("ba"))
      val b = bm.select(col("event_type").as("tb"), col("bs").as("bb"))
      a.join(broadcast(b), col("ta") < col("tb"))
        .select(col("ta"), col("tb"),
          Kernels.bitsetIntersectCount(col("ba"), col("ba"))
            .as("n_a"),
          Kernels.bitsetIntersectCount(col("bb"), col("bb"))
            .as("n_b"),
          Kernels.bitsetIntersectCount(col("ba"), col("bb"))
            .as("n_overlap"))
        .withColumn("jaccard_ppm",
          expr("(n_overlap * 1000000) div (n_a + n_b - n_overlap)"))
        .orderBy("ta", "tb")
    })
  )

  def oracles: Map[String, String] = Map(
    "bitmap_index_overlap" ->
      """WITH b AS (SELECT DISTINCT event_type, user_id % 1024 AS bucket
        |  FROM events),
        |sz AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1),
        |ov AS (SELECT x.event_type AS ta, y.event_type AS tb,
        |    count(*) AS n_overlap
        |  FROM b x JOIN b y ON x.bucket = y.bucket
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2),
        |pr AS (SELECT sa.event_type AS ta, sb.event_type AS tb,
        |    sa.n AS n_a, sb.n AS n_b
        |  FROM sz sa JOIN sz sb ON sa.event_type < sb.event_type)
        |SELECT pr.ta, pr.tb, pr.n_a, pr.n_b,
        |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  (CAST(coalesce(ov.n_overlap, 0) AS BIGINT) * 1000000)
        |    // (pr.n_a + pr.n_b - coalesce(ov.n_overlap, 0)) AS jaccard_ppm
        |FROM pr LEFT JOIN ov ON pr.ta = ov.ta AND pr.tb = ov.tb
        |ORDER BY pr.ta, pr.tb""".stripMargin,

    "cooccur_pmi" ->
      """WITH toks AS (SELECT lang, str_split(text, ' ') AS ts FROM documents),
        |uni AS (SELECT lang, unnest(ts) AS w FROM toks),
        |uc AS (SELECT lang, w, count(*) AS c_w FROM uni GROUP BY lang, w),
        |ut AS (SELECT lang, sum(c_w) AS tot_u FROM uc GROUP BY lang),
        |bi AS (SELECT lang, unnest(list_transform(generate_series(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i + 1])) AS bg FROM toks),
        |bc AS (SELECT lang, bg, count(*) AS c_ab FROM bi GROUP BY lang, bg
        |       HAVING count(*) >= 5),
        |bt AS (SELECT lang, count(*) AS tot_b FROM bi GROUP BY lang),
        |j AS (SELECT bc.lang, bc.bg, bc.c_ab,
        |    CAST(floor(ln(CAST(bc.c_ab * ut.tot_u * ut.tot_u AS DOUBLE) /
        |      CAST(bt.tot_b * ua.c_w * ub.c_w AS DOUBLE)) * 100) AS BIGINT) AS pmi_c
        |  FROM bc
        |  JOIN uc ua ON ua.lang = bc.lang AND ua.w = str_split(bc.bg, ' ')[1]
        |  JOIN uc ub ON ub.lang = bc.lang AND ub.w = str_split(bc.bg, ' ')[2]
        |  JOIN ut ON ut.lang = bc.lang
        |  JOIN bt ON bt.lang = bc.lang),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY c_ab DESC, bg) AS INT) AS rk FROM j)
        |SELECT lang, bg, c_ab, pmi_c, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin,

    "tfidf_vectorize" ->
      """WITH inst AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tk
        |    FROM documents),
        |dfq AS (SELECT tk, count(*) AS df FROM
        |    (SELECT DISTINCT doc_id, tk FROM inst) GROUP BY tk),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (SELECT doc_id, tk, count(*) AS tf FROM inst
        |    WHERE doc_id < 500 GROUP BY doc_id, tk),
        |sc AS (SELECT tf.doc_id, tf.tk, tf.tf, dfq.df,
        |    CAST(floor(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) /
        |      CAST(dfq.df AS DOUBLE)) * 100) AS BIGINT) AS score_c
        |  FROM tf JOIN dfq ON tf.tk = dfq.tk CROSS JOIN nd),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_c DESC, tk) AS INT) AS rk FROM sc)
        |SELECT doc_id, tk, tf, df, score_c, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "dedup_semantic_block" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |    WHERE vec_id < 8),
        |a AS (SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) *
        |           (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))),
        |      (x, y) -> x + y) AS sqd
        |  FROM embeddings e CROSS JOIN c),
        |m AS (SELECT vec_id, min(sqd) AS msqd FROM a GROUP BY vec_id),
        |pick AS (SELECT a.vec_id, min(a.cid) AS cid
        |  FROM a JOIN m ON a.vec_id = m.vec_id AND a.sqd = m.msqd
        |  GROUP BY a.vec_id),
        |av AS (SELECT p.vec_id, p.cid, e.embedding,
        |    sqrt(list_reduce(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)) AS nrm
        |  FROM pick p JOIN embeddings e ON p.vec_id = e.vec_id),
        |pr AS (SELECT x.cid, x.vec_id AS v1, y.vec_id AS v2,
        |    list_reduce(list_transform(generate_series(1, len(x.embedding)),
        |      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
        |      (p, q) -> p + q) / (x.nrm * y.nrm) AS cos
        |  FROM av x JOIN av y ON x.cid = y.cid AND x.vec_id < y.vec_id)
        |SELECT cid, v1, v2, CAST(floor(cos * 10000) AS BIGINT) AS cos_c
        |FROM pr WHERE cos >= 0.35 ORDER BY v1, v2""".stripMargin,

    "distinct_kmv_sketch" -> {
      val hv = Sampling.hexDecodeSql("m")
      s"""WITH dist AS (SELECT DISTINCT event_type, user_id FROM events),
        |u AS (SELECT event_type, user_id,
        |    md5(CAST(user_id AS VARCHAR)) AS m FROM dist),
        |h AS (SELECT event_type, user_id,
        |    CAST($hv + 1 AS DOUBLE) / 16777217.0 AS uv FROM u),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY uv, user_id) AS rn FROM h),
        |kth AS (SELECT event_type, uv AS u_k FROM r WHERE rn = 32),
        |ex AS (SELECT event_type, count(*) AS n_exact FROM dist
        |    GROUP BY event_type)
        |SELECT ex.event_type, ex.n_exact,
        |  CAST(floor(coalesce(31.0 / kth.u_k, CAST(ex.n_exact AS DOUBLE)) * 100)
        |    AS BIGINT) AS est_c
        |FROM ex LEFT JOIN kth ON ex.event_type = kth.event_type
        |ORDER BY ex.event_type""".stripMargin
    },

    // merged per-day sketches ≡ the direct sketch — same oracle SQL
    "sketch_kmv_merge" -> {
      val hv = Sampling.hexDecodeSql("m")
      s"""WITH dist AS (SELECT DISTINCT event_type, user_id FROM events),
        |u AS (SELECT event_type, user_id,
        |    md5(CAST(user_id AS VARCHAR)) AS m FROM dist),
        |h AS (SELECT event_type, user_id,
        |    CAST($hv + 1 AS DOUBLE) / 16777217.0 AS uv FROM u),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY uv, user_id) AS rn FROM h),
        |kth AS (SELECT event_type, uv AS u_k FROM r WHERE rn = 32),
        |ex AS (SELECT event_type, count(*) AS n_exact FROM dist
        |    GROUP BY event_type)
        |SELECT ex.event_type, ex.n_exact,
        |  CAST(floor(coalesce(31.0 / kth.u_k, CAST(ex.n_exact AS DOUBLE)) * 100)
        |    AS BIGINT) AS est_c
        |FROM ex LEFT JOIN kth ON ex.event_type = kth.event_type
        |ORDER BY ex.event_type""".stripMargin
    },

    "cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
        |    FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT c.cohort_wk, a.wk - c.cohort_wk AS wk_off,
        |  count(*) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY c.cohort_wk, wk_off
        |ORDER BY cohort_wk, wk_off""".stripMargin
  )
}
