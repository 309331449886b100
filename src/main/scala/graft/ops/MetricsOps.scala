package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.api.Vectors

/** §2.25 model-evaluation & calibration metrics — the measurement loop a
  * retrieval / classification pipeline runs over its own outputs: ROC AUC
  * (rank-based, tie-aware), NDCG@10 of embedding retrieval, a reliability
  * diagram (calibration bins), and the full kNN confusion matrix. Every
  * metric is computed in EXACT integer arithmetic (midranks doubled to
  * stay integral, log2 discount weights pre-tabulated as integers) so the
  * DuckDB oracle hash-matches bit-for-bit.
  *
  * Scale shapes (100 TB notes):
  *  - auc_eval: the Mann-Whitney rank sum runs over the SCORE-BUCKET
  *    histogram (value-bounded: ~10^4 cells for a canon(1e4)-quantized
  *    score), never over data rows — data touches one map-side-combinable
  *    aggregate per (bucket) and per (bucket, label). The single-partition
  *    window orders the histogram, not the corpus. (The ppm products reach
  *    nP·N·1e6, so the rank-sum moments run in DECIMAL(38,0) on both
  *    engines — good to ~10^15 rows, ANSI decimal overflow fails loudly
  *    past that — and auc_ppm comes back to BIGINT via integral `div`.)
  *  - eval_ndcg: the probe panel is bounded by construction (vec_id <
  *    500) and broadcasts; the corpus side streams partition-local
  *    through the codegen'd sqdist kernel. Discount weights are integer
  *    literals — no cross-engine log2.
  *  - calibration_bins: one aggregate with |bins| cells; every statistic
  *    (mean predicted probability, positive rate, gap) is integer-ppm by
  *    construction because the model score is an integer ratio.
  *  - confusion_knn_eval: same bounded-panel contract as
  *    knn_classify_eval; the matrix aggregate is |labels|² cells.
  */
object MetricsOps {

  /** floor(1e6 / log2(rank+1)) for rank 1..10 — integer NDCG discounts,
    * identical literals on the Spark and DuckDB side. */
  private val ndcgW = Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
    356207L, 333333L, 315464L, 301029L, 289064L)
  private val ndcgIdeal = ndcgW.sum // 4543554

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // One-vs-rest ROC AUC per embedding label, scored by the first
    // embedding coordinate quantized to canon(1e4) buckets. Tie-aware
    // Mann-Whitney midranks, doubled so everything stays BIGINT:
    // r2(bucket) = 2·(rows strictly below) + n_bucket + 1 = 2·midrank;
    // U2 = Σ_pos r2 − nP(nP+1) = 2U; AUC_ppm = U2·1e6 div (2·nP·nN).
    "auc_eval" -> ((s, d) => {
      val scored = Tables.embeddings(s, d).select(
        floor(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long").as("score_c"),
        col("label").cast("long").as("label"))
      val hist = scored.groupBy("score_c").agg(count(lit(1)).as("nb"))
      // range-partitioned histogram fold (api/Histograms): cum_lt without
      // any unpartitioned window, even over the histogram
      val ranked = graft.api.Histograms.cumulativeFold(hist, col("score_c"),
          Seq(graft.api.Histograms.CumSpec(col("nb"), "cum_lt")))
        .withColumn("r2", lit(2L) * col("cum_lt") + col("nb") + lit(1L))
      val perBL = scored.groupBy("score_c", "label").agg(count(lit(1)).as("c"))
      val contrib = perBL.join(ranked.select("score_c", "r2"), "score_c")
      // total row count from a 1-row broadcast aggregate (every row has
      // exactly one label)
      // c·r2 ≤ 2N² wraps int64 from N ≈ 2·10⁹ rows, and u2·1e6 from
      // N ≈ 7·10⁶ — both operands are promoted to decimal BEFORE the
      // multiply (corr_spearman discipline), so every moment is exact
      // to ~10^15 rows and the quotient lands back in BIGINT.
      contrib.groupBy("label")
        .agg(sum("c").as("n_pos"),
          sum((col("c").cast("decimal(19,0)") * col("r2"))
            .cast("decimal(38,0)")).as("sum_r2"))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("tot"))))
        .withColumn("u2",
          col("sum_r2") -
            col("n_pos").cast("decimal(19,0)") * (col("n_pos") + lit(1L)))
        .withColumn("auc_ppm",
          expr("(u2 * 1000000) div" +
            " (2 * CAST(n_pos AS DECIMAL(19,0)) * (tot - n_pos))"))
        .select("label", "n_pos", "auc_ppm")
        .orderBy("label")
    }),

    // NDCG@10 of leave-one-out embedding retrieval for the bounded probe
    // panel (vec_id < 500): relevance = neighbor label matches probe
    // label; discount weights are the integer table above, the ideal DCG
    // is their full sum (every label class has ≥ 10 corpus members).
    // Reported as per-label mean NDCG (ppm, floor).
    "eval_ndcg" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 500)
      val nn = Vectors.knnQuantized(emb, col("vec_id"), col("embedding"),
        probes, col("vec_id"), col("embedding"), k = 10)
      val wArr = array(ndcgW.map(lit): _*)
      val lbl = emb.select(col("vec_id").as("id"),
        col("label").cast("long").as("nlabel"))
      val truth = probes.select(col("vec_id").as("qid"),
        col("label").cast("long").as("label"))
      val perProbe = nn.join(lbl, "id").join(truth, "qid")
        .withColumn("w", element_at(wArr, col("rank").cast("int")))
        .groupBy("qid", "label")
        .agg(sum(when(col("nlabel") === col("label"), col("w"))
          .otherwise(lit(0L))).as("dcg_w"))
        .withColumn("ndcg_ppm",
          expr(s"(dcg_w * 1000000) div ${ndcgIdeal}L"))
      perProbe.groupBy("label")
        .agg(count(lit(1)).as("n"),
          expr("sum(ndcg_ppm) div count(1)").as("mean_ndcg_ppm"))
        .orderBy("label")
    }),

    // Reliability diagram over a deterministic length-based model score:
    // p = min(n_chars, 599)/600 predicts "document is English". Bins,
    // mean predicted probability, observed positive rate, and the
    // calibration gap are all integer-ppm (the score is an integer
    // ratio, so no float ever enters).
    "calibration_bins" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
        least(col("n_chars"), lit(599L)).as("nc"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      docs.withColumn("bin", expr("(nc * 10) div 600"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("nc").as("snc"), sum("y").as("npos"))
        .withColumn("mean_p_ppm", expr("(snc * 1000000) div (600 * n)"))
        .withColumn("pos_rate_ppm", expr("(npos * 1000000) div n"))
        .withColumn("gap_ppm", abs(col("mean_p_ppm") - col("pos_rate_ppm")))
        .select("bin", "n", "mean_p_ppm", "pos_rate_ppm", "gap_ppm")
        .orderBy("bin")
    }),

    // A/B experiment readout: users deterministically split into two
    // arms by md5 parity (the stateless assignment every experiment
    // platform uses), conversion = any purchase event; per arm the
    // conversion rate in ppm, with the treatment−control lift carried
    // alongside (window over the 2-row arm relation).
    "ab_test_lift" -> ((s, d) => {
      val users = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .withColumn("arm", graft.api.Sampling.hashBucket(col("user_id"), 2))
      val arms = users.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
        .withColumn("rate_ppm", expr("(n_conv * 1000000) div n_users"))
      val w = Window.partitionBy()
      arms
        .withColumn("lift_ppm",
          col("rate_ppm") - first("rate_ppm").over(w.orderBy("arm")))
        .select("arm", "n_users", "n_conv", "rate_ppm", "lift_ppm")
        .orderBy("arm")
    }),

    // Empty-input semantics: aggregates over a provably empty relation
    // (global aggregate → ONE row with count 0 and null sums; grouped
    // aggregate → zero rows) — the edge an engine must get right before
    // anything else composes. Both shapes in one output.
    "empty_input_semantics" -> ((s, d) => {
      val empty = Tables.orders(s, d).filter(lit(1) === lit(0))
      val global = empty.agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice")).cast("long")).as("s"))
        .select(lit("global_agg").as("shape"), col("n"),
          coalesce(col("s"), lit(-1L)).as("s_disp"))
      val grouped = empty.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"))
        .select(lit("grouped_agg").as("shape"),
          col("n_groups").as("n"), lit(-1L).as("s_disp"))
      global.unionByName(grouped).orderBy("shape")
    }),

    // Full confusion matrix of the LOO 5-NN majority-vote classifier
    // (the knn_classify_eval contract: bounded probe panel vec_id <
    // 1000, vote ties to the smallest label): per (true, predicted)
    // cell count and row-normalized share in ppm.
    "confusion_knn_eval" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 1000)
      val nn = Vectors.knnQuantized(emb, col("vec_id"), col("embedding"),
        probes, col("vec_id"), col("embedding"), k = 5)
      val lbl = emb.select(col("vec_id").as("id"),
        col("label").cast("long").as("nlabel"))
      val pred = nn.join(lbl, "id")
        .groupBy("qid", "nlabel").agg(count(lit(1)).as("c"))
        .groupBy("qid")
        .agg(max(struct(col("c"), (-col("nlabel")).as("nl"))).as("m"))
        .select(col("qid"), (-col("m.nl")).as("pred"))
      val truth = probes.select(col("vec_id").as("qid"),
        col("label").cast("long").as("label"))
      val cells = pred.join(truth, "qid")
        .groupBy("label", "pred").agg(count(lit(1)).as("n"))
      val wRow = Window.partitionBy("label")
      cells
        .withColumn("rown", sum("n").over(wRow))
        .withColumn("row_ppm", expr("(n * 1000000) div rown"))
        .select("label", "pred", "n", "row_ppm")
        .orderBy("label", "pred")
    })
  )

  /** Shared oracle fragment: LOO kNN candidate ranking over QUANTIZED
    * integer distances. Each embedding component is floor(x·1e5) as
    * BIGINT (one rounding per value — identical in every engine), after
    * which pair distances are exact integer sums, merge-order
    * independent — so the oracle recomputes them as a fully VECTORIZED
    * unnest → dimension-join → group-by instead of a per-pair
    * interpreted list lambda (the lambda form was ~1000× slower and
    * kept these three queries out of the sf0.1 oracle sweep). */
  private[ops] def knnSql(panelBound: Int): String =
    s"""d AS (SELECT vec_id, embedding, label FROM embeddings),
      |q0 AS (SELECT * FROM d WHERE vec_id < $panelBound),
      |dqe AS (SELECT vec_id,
      |    unnest(generate_series(1, len(embedding))) AS i, embedding FROM d),
      |dq AS (SELECT vec_id, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 100000) AS BIGINT) AS qv
      |  FROM dqe),
      |qq AS (SELECT * FROM dq WHERE vec_id < $panelBound),
      |sc0 AS (SELECT q.vec_id AS qid, x.vec_id AS id,
      |    CAST(sum((x.qv - q.qv) * (x.qv - q.qv)) AS BIGINT) AS dist
      |  FROM dq x JOIN qq q ON x.i = q.i AND x.vec_id <> q.vec_id
      |  GROUP BY 1, 2),
      |sc AS (SELECT sc0.qid, sc0.id, CAST(d.label AS BIGINT) AS nlabel,
      |    sc0.dist FROM sc0 JOIN d ON sc0.id = d.vec_id),
      |rnk AS (SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY dist, id) AS rk FROM sc)""".stripMargin

  def oracles: Map[String, String] = Map(
    "ab_test_lift" -> {
      val hv = graft.api.Sampling.hexDecodeSql(
        "md5(CAST(user_id AS VARCHAR))")
      s"""WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY 1),
        |a AS (SELECT ($hv) % 2 AS arm, count(*) AS n_users,
        |    CAST(sum(converted) AS BIGINT) AS n_conv
        |  FROM u GROUP BY 1),
        |r AS (SELECT *, (n_conv * 1000000) // n_users AS rate_ppm FROM a)
        |SELECT CAST(arm AS BIGINT) AS arm, n_users, n_conv,
        |  CAST(rate_ppm AS BIGINT) AS rate_ppm,
        |  CAST(rate_ppm - first_value(rate_ppm) OVER (ORDER BY arm)
        |    AS BIGINT) AS lift_ppm
        |FROM r ORDER BY arm""".stripMargin
    },

    "empty_input_semantics" ->
      """SELECT 'global_agg' AS shape, count(*) AS n,
        |  coalesce(CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT),
        |    -1) AS s_disp
        |FROM orders WHERE 1 = 0
        |UNION ALL
        |SELECT 'grouped_agg', count(*), CAST(-1 AS BIGINT) FROM (
        |  SELECT o_orderstatus FROM orders WHERE 1 = 0 GROUP BY 1)
        |ORDER BY shape""".stripMargin,

    "auc_eval" ->
      """WITH s AS (SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 10000)
        |      AS BIGINT) AS score_c, CAST(label AS BIGINT) AS label
        |  FROM embeddings),
        |h AS (SELECT score_c, count(*) AS nb FROM s GROUP BY 1),
        |r AS (SELECT score_c,
        |    2 * coalesce(sum(nb) OVER (ORDER BY score_c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + nb + 1 AS r2 FROM h),
        |bl AS (SELECT score_c, label, count(*) AS c FROM s GROUP BY 1, 2),
        |g AS (SELECT bl.label, CAST(sum(bl.c) AS BIGINT) AS n_pos,
        |    sum(CAST(bl.c AS HUGEINT) * r.r2) AS sum_r2
        |  FROM bl JOIN r USING (score_c) GROUP BY 1),
        |gt AS (SELECT *, CAST(sum(n_pos) OVER () AS BIGINT) AS tot FROM g)
        |SELECT label, n_pos,
        |  CAST(((sum_r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000)
        |    // (2 * CAST(n_pos AS HUGEINT) * (tot - n_pos)) AS BIGINT)
        |    AS auc_ppm
        |FROM gt ORDER BY label""".stripMargin,

    "eval_ndcg" -> {
      val wCase = ndcgW.zipWithIndex
        .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }.mkString(" ")
      s"""WITH ${knnSql(500)},
        |nn AS (SELECT qid, nlabel,
        |    CASE rk $wCase END AS w FROM rnk WHERE rk <= 10),
        |tr AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS label FROM q0),
        |pp AS (SELECT nn.qid, tr.label,
        |    CAST(sum(CASE WHEN nn.nlabel = tr.label THEN nn.w ELSE 0 END)
        |      AS BIGINT) AS dcg_w
        |  FROM nn JOIN tr ON nn.qid = tr.qid GROUP BY 1, 2),
        |pn AS (SELECT qid, label,
        |    (dcg_w * 1000000) // $ndcgIdeal AS ndcg_ppm FROM pp)
        |SELECT label, count(*) AS n,
        |  CAST(sum(ndcg_ppm) AS BIGINT) // count(*) AS mean_ndcg_ppm
        |FROM pn GROUP BY label ORDER BY label""".stripMargin
    },

    "calibration_bins" ->
      """WITH d AS (SELECT least(n_chars, 599) AS nc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |b AS (SELECT (nc * 10) // 600 AS bin, count(*) AS n,
        |    CAST(sum(nc) AS BIGINT) AS snc, CAST(sum(y) AS BIGINT) AS npos
        |  FROM d GROUP BY 1)
        |SELECT bin, n,
        |  (snc * 1000000) // (600 * n) AS mean_p_ppm,
        |  (npos * 1000000) // n AS pos_rate_ppm,
        |  abs((snc * 1000000) // (600 * n) - (npos * 1000000) // n) AS gap_ppm
        |FROM b ORDER BY bin""".stripMargin,

    "confusion_knn_eval" ->
      s"""WITH ${knnSql(1000)},
        |v AS (SELECT qid, nlabel, count(*) AS c FROM rnk
        |      WHERE rk <= 5 GROUP BY 1, 2),
        |p AS (SELECT qid, nlabel AS pred, row_number() OVER (PARTITION BY qid
        |    ORDER BY c DESC, nlabel) AS pr FROM v),
        |tr AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS label FROM q0),
        |j AS (SELECT tr.label, p.pred FROM p JOIN tr ON p.qid = tr.qid
        |      WHERE p.pr = 1),
        |c AS (SELECT label, pred, count(*) AS n FROM j GROUP BY 1, 2),
        |cw AS (SELECT *, CAST(sum(n) OVER (PARTITION BY label) AS BIGINT)
        |    AS rown FROM c)
        |SELECT label, pred, n, CAST((n * 1000000) // rown AS BIGINT) AS row_ppm
        |FROM cw ORDER BY label, pred""".stripMargin
  )
}
