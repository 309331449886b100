package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.api.{Sampling, Vectors}
import graft.io.Tables

/** §2.45 approximate membership & ranking evaluation (added round 6):
  * a Bloom filter with a MEASURED false-positive rate, PR-AUC (average
  * precision) as the imbalanced-data companion of auc_eval, MRR for the
  * retrieval stack, and two time-series dependence diagnostics
  * (cross-correlation between event-type series, Fano-factor
  * burstiness).
  *
  * Determinism: Bloom bit positions derive from md5 (Sampling.hashBucket
  * — engine-portable decode), every rate/score is integer ppm, and the
  * correlation moments are exact BIGINT with one final canonized ratio.
  *
  * Scale shapes (100 TB notes):
  *  - sketch_bloom_fpr: the filter is a 512-row (word, bits) relation —
  *    built by one bit_or aggregate, broadcast to probes; at 100 TB the
  *    same relation is just sized m/32 rows and the probe side streams.
  *  - eval_pr_auc: the ranking sweep runs over the SCORE-BUCKET histogram
  *    (value-bounded), never over data rows — auc_eval's discipline.
  *  - eval_mrr: bounded probe panel (vec_id < 500) broadcasts; corpus
  *    streams through the codegen'd quantized-distance kernel.
  *  - ts_crosscorr_types / ts_burstiness_fano: both run over the
  *    (type, day) aggregate — calendar-bounded.
  */
object ApproxOps {

  private val BloomBits = 16384
  private val BloomSeeds = 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bloom filter over a part panel (every 17th part key that the
    // BUILDING segment purchased — a set m comfortably oversizes at both
    // fixture scales, so the measured rate is a real FPR, not filter
    // saturation; m = 16384 bits as 512 × 32-bit words, k = 3
    // md5-derived hash positions), probed with every NON-member part.
    // 32-bit words keep every shift < 2^31 — exact in engines that
    // error on signed overflow.
    "sketch_bloom_fpr" -> ((s, d) => {
      val members = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")), col("o_custkey") === col("c_custkey"))
        .filter(col("l_partkey") % 17 === 0)
        .select(col("l_partkey").as("pk")).distinct()
      val seeds = explode(sequence(lit(0), lit(BloomSeeds - 1))).as("seed")
      def pos = Sampling.hashBucket(
        concat(col("pk").cast("string"), lit(":"), col("seed").cast("string")),
        BloomBits)
      val bloom = members.select(col("pk"), seeds)
        .withColumn("pos", pos)
        .select(expr("pos div 32").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("b"))
        .groupBy("word").agg(expr("bit_or(b)").as("bits"))
      val probes = Tables.part(s, d).select(col("p_partkey").as("pk"))
        .join(members, Seq("pk"), "left_anti")
      val probeBits = probes.select(col("pk"), seeds)
        .withColumn("pos", pos)
        .select(col("pk"), expr("pos div 32").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("need"))
      val hits = probeBits.join(broadcast(bloom), Seq("word"), "left_outer")
        .groupBy("pk")
        .agg(sum(when(expr("(bits & need) != 0"), 1L).otherwise(0L)).as("nhit"))
      val fp = hits.agg(count(lit(1)).as("n_probes"),
        sum(when(col("nhit") === BloomSeeds, 1L).otherwise(0L)).as("n_fp"))
      members.agg(count(lit(1)).as("n_members"))
        .crossJoin(broadcast(fp))
        .withColumn("fpr_ppm", expr("(n_fp * 1000000) div n_probes"))
    }),

    // Average precision (PR-AUC) per embedding label, one-vs-rest,
    // scored by the first embedding coordinate (auc_eval's scoring):
    // rank by score bucket DESC over the bucket histogram, precision at
    // each bucket in ppm, AP = Σ Δtp·prec_ppm div P — ties grouped at
    // bucket granularity, all integer.
    "eval_pr_auc" -> ((s, d) => {
      val scored = Tables.embeddings(s, d).select(
        floor(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long").as("score_c"),
        col("label").cast("long").as("label"))
      val bucketAll = scored.groupBy("score_c").agg(count(lit(1)).as("nb"))
      val bucketPos = scored.groupBy("label", "score_c")
        .agg(count(lit(1)).as("np"))
      val grid = bucketPos.select(col("label")).distinct()
        // |labels| × |buckets| grid: every bucket scored per label
        // (broadcast BNLJ of the value-bounded score histogram)
        .crossJoin(broadcast(bucketAll))
        .join(bucketPos, Seq("label", "score_c"), "left_outer")
        .withColumn("np", coalesce(col("np"), lit(0L)))
      val wDesc = Window.partitionBy("label")
        .orderBy(col("score_c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("tp", sum("np").over(wDesc))
        .withColumn("seen", sum("nb").over(wDesc))
        .withColumn("prec_ppm", expr("(tp * 1000000) div seen"))
        .groupBy("label")
        .agg(sum("np").as("n_pos"),
          sum(col("np") * col("prec_ppm")).as("ap_num"))
        .withColumn("ap_ppm", expr("ap_num div n_pos"))
        .select("label", "n_pos", "ap_ppm")
        .orderBy("label")
    }),

    // Mean reciprocal rank of LOO embedding retrieval (the eval_ndcg
    // panel, k = 10, quantized-integer distances): rr = 1e6 div first
    // label-matching rank (0 when no hit in 10), reported per label.
    "eval_mrr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 500)
      val nn = Vectors.knnQuantized(emb, col("vec_id"), col("embedding"),
        probes, col("vec_id"), col("embedding"), k = 10)
      val lbl = emb.select(col("vec_id").as("id"),
        col("label").cast("long").as("nlabel"))
      val truth = probes.select(col("vec_id").as("qid"),
        col("label").cast("long").as("label"))
      nn.join(lbl, "id").join(truth, "qid")
        .groupBy("qid", "label")
        .agg(min(when(col("nlabel") === col("label"), col("rank"))).as("first_hit"))
        .withColumn("rr_ppm",
          when(col("first_hit").isNotNull, expr("1000000 div first_hit"))
            .otherwise(lit(0L)))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), expr("sum(rr_ppm) div count(1)").as("mrr_ppm"))
        .orderBy("label")
    }),

    // Cross-correlation between event-type daily-count series at lags
    // −2..2: Pearson r over days where both series (with b shifted by
    // the lag) have a value — exact integer moments, canon100 ratio.
    "ts_crosscorr_types" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type").as("t"),
          expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val lags = explode(sequence(lit(-2), lit(2))).as("lag")
      val a = daily.select(col("t").as("ta"), col("day"), col("x").as("xa"))
        .select(col("ta"), col("day"), col("xa"), lags)
      val b = daily.select(col("t").as("tb"), col("day").as("dayb"),
        col("x").as("xb"))
      a.join(b, col("ta") < col("tb") &&
          col("dayb") === col("day") + col("lag").cast("long"))
        .groupBy("ta", "tb", "lag")
        .agg(count(lit(1)).as("n_days"),
          sum("xa").as("sa"), sum("xb").as("sb"),
          sum(col("xa") * col("xa")).as("saa"),
          sum(col("xb") * col("xb")).as("sbb"),
          sum(col("xa") * col("xb")).as("sab"))
        .withColumn("num", col("n_days") * col("sab") - col("sa") * col("sb"))
        .withColumn("da", col("n_days") * col("saa") - col("sa") * col("sa"))
        .withColumn("db", col("n_days") * col("sbb") - col("sb") * col("sb"))
        .select(col("ta"), col("tb"), col("lag").cast("long").as("lag"),
          col("n_days"),
          when(col("da") > 0 && col("db") > 0,
            floor(col("num").cast("double") /
              (sqrt(col("da").cast("double")) * sqrt(col("db").cast("double")))
              * lit(100.0)).cast("long")).as("r_c"))
        .orderBy("ta", "tb", "lag")
    }),

    // Burstiness of each event-type daily series: Fano factor =
    // population variance over mean of daily counts, exact integer ratio
    // ×100 — F ≈ 100 is Poisson-like, higher is bursty.
    "ts_burstiness_fano" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("mean_c", expr("(sx * 100) div n_days"))
        .withColumn("fano_c",
          expr("((n_days * sxx - sx * sx) * 100) div (n_days * sx)"))
        .select("event_type", "n_days", "mean_c", "fano_c")
        .orderBy("event_type"))
  )

  def oracles: Map[String, String] = Map(
    "sketch_bloom_fpr" -> {
      def posSql(pkExpr: String) = {
        val m = s"md5(concat(CAST($pkExpr AS VARCHAR), ':', CAST(seed AS VARCHAR)))"
        s"(${Sampling.hexDecodeSql(m)}) % $BloomBits"
      }
      s"""WITH mem AS (SELECT DISTINCT l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING' AND l_partkey % 17 = 0),
        |mp AS (SELECT pk, unnest(generate_series(0, ${BloomSeeds - 1})) AS seed
        |  FROM mem),
        |mb AS (SELECT pk, ${posSql("pk")} AS pos FROM mp),
        |bloom AS (SELECT pos // 32 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
        |  FROM mb GROUP BY 1),
        |pr AS (SELECT p_partkey AS pk FROM part
        |  WHERE p_partkey NOT IN (SELECT pk FROM mem)),
        |pp AS (SELECT pk, unnest(generate_series(0, ${BloomSeeds - 1})) AS seed
        |  FROM pr),
        |pb AS (SELECT pk, ${posSql("pk")} AS pos FROM pp),
        |ph AS (SELECT pb.pk,
        |    CAST(sum(CASE WHEN (bloom.bits &
        |      (CAST(1 AS BIGINT) << CAST(pb.pos % 32 AS INTEGER))) != 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nhit
        |  FROM pb LEFT JOIN bloom ON pb.pos // 32 = bloom.word
        |  GROUP BY 1),
        |fp AS (SELECT count(*) AS n_probes,
        |    CAST(sum(CASE WHEN nhit = $BloomSeeds THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_fp FROM ph),
        |nm AS (SELECT count(*) AS n_members FROM mem)
        |SELECT n_members, n_probes, n_fp,
        |  (n_fp * 1000000) // n_probes AS fpr_ppm
        |FROM nm, fp""".stripMargin
    },

    "eval_pr_auc" ->
      """WITH s AS (SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 10000)
        |      AS BIGINT) AS score_c, CAST(label AS BIGINT) AS label
        |  FROM embeddings),
        |ba AS (SELECT score_c, count(*) AS nb FROM s GROUP BY 1),
        |bp AS (SELECT label, score_c, count(*) AS np FROM s GROUP BY 1, 2),
        |ls AS (SELECT DISTINCT label FROM bp),
        |grid AS (SELECT ls.label, ba.score_c, ba.nb,
        |    CAST(coalesce(bp.np, 0) AS BIGINT) AS np
        |  FROM ls CROSS JOIN ba
        |  LEFT JOIN bp ON bp.label = ls.label AND bp.score_c = ba.score_c),
        |c AS (SELECT label, score_c, np,
        |    CAST(sum(np) OVER w AS BIGINT) AS tp,
        |    CAST(sum(nb) OVER w AS BIGINT) AS seen
        |  FROM grid WINDOW w AS (PARTITION BY label ORDER BY score_c DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (SELECT label, np, (tp * 1000000) // seen AS prec_ppm FROM c),
        |g AS (SELECT label, CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(np * prec_ppm) AS BIGINT) AS ap_num
        |  FROM p GROUP BY 1)
        |SELECT label, n_pos, ap_num // n_pos AS ap_ppm
        |FROM g ORDER BY label""".stripMargin,

    "eval_mrr" ->
      s"""WITH ${MetricsOps.knnSql(500)},
        |tr AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS label FROM q0),
        |fh AS (SELECT rnk.qid, tr.label,
        |    min(CASE WHEN rnk.nlabel = tr.label THEN rnk.rk END) AS first_hit
        |  FROM rnk JOIN tr ON rnk.qid = tr.qid
        |  WHERE rnk.rk <= 10 GROUP BY 1, 2),
        |rr AS (SELECT qid, label, CASE WHEN first_hit IS NOT NULL
        |    THEN 1000000 // first_hit ELSE 0 END AS rr_ppm FROM fh)
        |SELECT label, count(*) AS n,
        |  CAST(sum(rr_ppm) AS BIGINT) // count(*) AS mrr_ppm
        |FROM rr GROUP BY label ORDER BY label""".stripMargin,

    "ts_crosscorr_types" ->
      """WITH dly AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |lg AS (SELECT unnest(generate_series(-2, 2)) AS lag),
        |j AS (SELECT a.t AS ta, b.t AS tb, lg.lag, a.x AS xa, b.x AS xb
        |  FROM dly a CROSS JOIN lg JOIN dly b
        |    ON a.t < b.t AND b.day = a.day + lg.lag),
        |g AS (SELECT ta, tb, lag, count(*) AS n_days,
        |    CAST(sum(xa) AS BIGINT) AS sa, CAST(sum(xb) AS BIGINT) AS sb,
        |    CAST(sum(xa*xa) AS BIGINT) AS saa,
        |    CAST(sum(xb*xb) AS BIGINT) AS sbb,
        |    CAST(sum(xa*xb) AS BIGINT) AS sab
        |  FROM j GROUP BY 1, 2, 3)
        |SELECT ta, tb, CAST(lag AS BIGINT) AS lag, n_days,
        |  CASE WHEN n_days*saa - sa*sa > 0 AND n_days*sbb - sb*sb > 0
        |    THEN CAST(floor(CAST(n_days*sab - sa*sb AS DOUBLE) /
        |      (sqrt(CAST(n_days*saa - sa*sa AS DOUBLE)) *
        |       sqrt(CAST(n_days*sbb - sb*sb AS DOUBLE))) * 100) AS BIGINT)
        |    ELSE NULL END AS r_c
        |FROM g ORDER BY ta, tb, lag""".stripMargin,

    "ts_burstiness_fano" ->
      """WITH dly AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx
        |  FROM dly GROUP BY 1)
        |SELECT event_type, n_days, (sx * 100) // n_days AS mean_c,
        |  ((n_days * sxx - sx * sx) * 100) // (n_days * sx) AS fano_c
        |FROM g ORDER BY event_type""".stripMargin
  )
}
