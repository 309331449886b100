package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.io.Tables.{canon, canon100}
import graft.api.{Sampling, Sketches, Vectors}

/** §2.24 tokenizer-training, embedding-diagnostics & model-evaluation
  * operators — the measurement loop around a training-data pipeline:
  * one BPE merge iteration, per-dimension embedding health stats, the
  * long-form reshape feeding metric stores, series autocorrelation,
  * leave-one-out kNN label quality, and a differential proof that the
  * weighted sampler's top-k merges across shards. All oracle-checked.
  *
  * Scale shapes (100 TB notes):
  *  - bpe_merge_step: pair counting is a map-side-combinable aggregate
  *    over adjacent-token pairs; the winning rule is a LIMIT 1 over the
  *    pair AGGREGATE; greedy-merge islands use doc-partitioned windows
  *    (bounded by each doc's own length) over only the rows matching
  *    the one winning pair — never a corpus-wide window;
  *  - emb_dim_stats: posexplode fans each vector into |dim| rows but the
  *    aggregate is map-side combinable per dimension — |dim| cells of
  *    state no matter the corpus size;
  *  - unpivot_measures: stack() is a pure map-side generator (no
  *    shuffle before the output sort) — 4× the rows, zero wide stages;
  *  - ts_autocorr: all windows/aggregates run over the per-(type, day)
  *    COUNT relation (calendar-sized), and the correlation sums are
  *    exact BIGINT arithmetic so partial aggregation is lossless;
  *  - knn_classify_eval: the probe side broadcasts (evaluation sets are
  *    bounded by construction); per-query candidate ranking partitions
  *    by qid. For corpus×corpus evaluation at 100 TB you'd sample the
  *    probe set — the operator's contract (bounded probes) makes that
  *    explicit rather than hiding a quadratic blow-up;
  *  - sample_weighted_merge: per-shard local top-k via a (shard)-
  *    partitioned window, then a global top-k over ≤ |shards|·k
  *    survivors — the distributed form of the A-Res sampler, proven
  *    ≡ the direct global sample under the direct sample's own oracle.
  */
object EvalOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // One BPE-style merge iteration over the whitespace-token corpus:
    // find the globally most frequent ADJACENT token pair (ties by
    // lexicographic pair), then count per document how many times the
    // greedy left-to-right non-overlapping merge would fire. A run of
    // L consecutive matching positions (L+1 repeated tokens) yields
    // ceil(L/2) merges — islands via the p − row_number() trick inside
    // each doc.
    "bpe_merge_step" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tks"))
        .filter(size(col("tks")) >= 2)
      val pairs = toks.select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(tks)-2), " +
            "i -> struct(tks[i] as w1, tks[i+1] as w2, i as p))")).as("pr"))
        .select(col("doc_id"), col("pr.w1").as("w1"), col("pr.w2").as("w2"),
          col("pr.p").as("p"))
      val top = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w1"), col("w2")).limit(1)
        .select("w1", "w2")
      val wd = Window.partitionBy("doc_id").orderBy("p")
      val runs = pairs.join(broadcast(top), Seq("w1", "w2"))
        .withColumn("grp", col("p") - row_number().over(wd))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("len"))
      runs.groupBy("doc_id").agg(sum(expr("(len + 1) div 2")).as("n_merges"))
        .crossJoin(broadcast(top))
        .select(col("doc_id"), col("w1"), col("w2"), col("n_merges"))
        .orderBy("doc_id")
    }),

    // Per-dimension embedding health: count / mean / stddev / min / max
    // for each of the |dim| coordinates — the drift dashboard an
    // embedding pipeline watches. |dim| aggregation cells total.
    "emb_dim_stats" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v", col("v").cast("double"))
        .groupBy(col("pos").cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          canon(avg(col("v"))).as("mean_c"),
          canon100(stddev_samp(col("v"))).as("sd_c"),
          canon(min(col("v"))).as("min_c"),
          canon(max(col("v"))).as("max_c"))
        .orderBy("pos")),

    // Embedding covariance structure: the 20 dimension pairs with the
    // largest |scaled covariance| — correlated dimensions are what PCA /
    // whitening / OPQ rotation exploit, and the diagnostic that says an
    // encoder wastes capacity. Scaled covariance n·Σxy − Σx·Σy over
    // QUANTIZED components is exact int64 (every term ≤ ~8·10¹⁶ at
    // fixture scale), so the ranking has no float ties. Cross-products
    // accumulate per (i, j) via one vec-keyed self-join of the component
    // relation — 64·65/2 pairs per vector, map-side combined; the dim
    // sums are a 64-row broadcast.
    "emb_covariance_topk" -> ((s, d) => {
      val comp = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          floor(col("v").cast("double") * 100000).cast("long").as("q"))
        .localCheckpoint() // reused: dim sums + both self-join sides
      val sums = comp.groupBy("pos").agg(sum(col("q")).as("sx"))
      val nRow = comp.agg(countDistinct(col("vec_id")).as("n"))
      comp.select(col("vec_id"), col("pos").as("di"), col("q").as("qi"))
        .join(comp.select(col("vec_id"), col("pos").as("dj"), col("q").as("qj")),
          "vec_id")
        .where(col("di") <= col("dj"))
        .groupBy("di", "dj").agg(sum(col("qi") * col("qj")).as("sxy"))
        .join(broadcast(sums.select(col("pos").as("di"), col("sx").as("sxi"))), "di")
        .join(broadcast(sums.select(col("pos").as("dj"), col("sx").as("sxj"))), "dj")
        .crossJoin(broadcast(nRow))
        .withColumn("cov_s", col("n") * col("sxy") - col("sxi") * col("sxj"))
        .orderBy(abs(col("cov_s")).desc, col("di"), col("dj")).limit(20)
        .select(col("di"), col("dj"), col("cov_s"))
        .orderBy(abs(col("cov_s")).desc, col("di"), col("dj"))
    }),

    // Wide→long reshape of the lineitem measures (the melt feeding a
    // generic metric store). stack() is a map-side generator: 4× rows,
    // no shuffle before the deterministic output order.
    "unpivot_measures" -> ((s, d) =>
      Tables.lineitem(s, d)
        .selectExpr("l_orderkey",
          "cast(l_linenumber as bigint) as l_linenumber",
          "stack(4, 'discount', l_discount, 'extendedprice', l_extendedprice, " +
            "'quantity', l_quantity, 'tax', l_tax) as (measure, val)")
        .select(col("l_orderkey"), col("l_linenumber"), col("measure"),
          canon(col("val")).as("val_c"))
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // Row-lag autocorrelation (k = 1..3) of the per-type DAILY event
    // count series. Every sum is exact BIGINT (counts and their
    // products), so the Pearson numerator/denominators are
    // merge-order-independent; only the final ratio is floating.
    "ts_autocorr" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val per = (1 to 3).map { k =>
        daily.withColumn("y", lag(col("x"), k).over(w))
          .filter(col("y").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .withColumn("k", lit(k.toLong))
      }.reduce(_ unionByName _)
      per
        .withColumn("num", col("n_pairs") * col("sxy") - col("sx") * col("sy"))
        .withColumn("da", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
        .withColumn("db", col("n_pairs") * col("syy") - col("sy") * col("sy"))
        .select(col("event_type"), col("k"), col("n_pairs"),
          when(col("da") > 0 && col("db") > 0,
            canon100(col("num") /
              (sqrt(col("da").cast("double")) * sqrt(col("db").cast("double")))))
            .as("r_c"))
        .orderBy("event_type", "k")
    }),

    // Leave-one-out 5-NN majority-vote label prediction against the full
    // embedding corpus, reported as per-true-label accuracy (ppm) — the
    // "are my embeddings any good" gate before they drive dedup or
    // retrieval. Ties in the vote break to the smallest label. The PROBE
    // panel is bounded by construction (vec_id < 1000): the panel
    // broadcasts while the corpus side streams — evaluating every corpus
    // row as a probe would be a quadratic blow-up at 100 TB, so the
    // bounded panel is the operator's contract, not a shortcut.
    "knn_classify_eval" -> ((s, d) => {
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
      pred.join(truth, "qid")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("correct"))
        .withColumn("acc_ppm", expr("(correct * 1000000) div n"))
        .orderBy("label")
    }),

    // Distributed form of the A-Res weighted sampler: each shard
    // (source) keeps its LOCAL priority top-100, the global top-100 is
    // taken over the ≤ |shards|·100 survivors — provably identical to
    // the direct global sample (the global top-k is contained in the
    // union of shard top-ks), and checked under the direct sample's own
    // oracle formulation.
    "sample_weighted_merge" -> ((s, d) => {
      val pri = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("source"))
        .withColumn("priority",
          -log(Sampling.hashUniform(col("doc_id"))) /
            greatest(col("n_chars").cast("double"), lit(1e-12)))
      val wS = Window.partitionBy("source")
        .orderBy(col("priority"), col("doc_id"))
      pri.withColumn("lrk", row_number().over(wS)).filter(col("lrk") <= 100)
        .orderBy(col("priority"), col("doc_id")).limit(100)
        .select(col("doc_id"), col("n_chars"),
          floor(col("priority") * lit(100000000.0)).cast("long").as("pri_c"))
        .orderBy("doc_id")
    }),

    // Chi-square independence cells for order status × priority: each
    // cell's observed count, expected count under independence
    // (row·col/total), and chi-square contribution. Every window runs
    // over the |status|×|priority| AGGREGATE relation — the contingency
    // table — never the data.
    "chisq_independence" -> ((s, d) => {
      val cells = Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val e = cells
        .withColumn("rn", sum("n").over(Window.partitionBy("o_orderstatus")))
        .withColumn("cn", sum("n").over(Window.partitionBy("o_orderpriority")))
        .withColumn("tot", sum("n").over(Window.partitionBy()))
        .withColumn("e", col("rn").cast("double") * col("cn").cast("double") /
          col("tot").cast("double"))
      e.select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          canon100(col("e")).as("e_c"),
          canon100((col("n").cast("double") - col("e")) *
            (col("n").cast("double") - col("e")) / col("e")).as("contrib_c"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Pairwise Pearson correlation of the four lineitem measures,
    // integer-quantized first (whole units for quantity/price, cents
    // for discount/tax) so every sum is exact and partial aggregation
    // is lossless; the moment combination casts to double identically
    // in both engines. ONE map-side-combinable aggregate row, fanned
    // to 6 pair rows. The second moments run in DECIMAL(38,0) (the
    // per-row products still fit BIGINT — e.g. p² ≤ ~1e10 — but Σp²
    // wraps int64 around ~1e9 rows, so the SUM itself is promoted;
    // DuckDB mirrors with HUGEINT sums).
    "corr_measures" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        floor(col("l_quantity")).cast("long").as("q"),
        floor(col("l_extendedprice")).cast("long").as("p"),
        floor(col("l_discount") * 100).cast("long").as("dd"),
        floor(col("l_tax") * 100).cast("long").as("tx"))
      def sumM(a: String, b: String): Column =
        sum((col(a) * col(b)).cast("decimal(38,0)"))
      val agg = li.agg(
        count(lit(1)).as("n"),
        sum("q").as("sq"), sum("p").as("sp"),
        sum("dd").as("sd"), sum("tx").as("st"),
        sumM("q", "q").as("sqq"), sumM("p", "p").as("spp"),
        sumM("dd", "dd").as("sdd"), sumM("tx", "tx").as("stt"),
        sumM("dd", "p").as("sdp"), sumM("dd", "q").as("sdq"),
        sumM("dd", "tx").as("sdt"), sumM("p", "q").as("spq"),
        sumM("p", "tx").as("spt"), sumM("q", "tx").as("sqt"))
      def corrC(sx: String, sy: String, sxy: String,
                sxx: String, syy: String): Column = {
        val n = col("n").cast("double")
        val num = n * col(sxy).cast("double") -
          col(sx).cast("double") * col(sy).cast("double")
        val da = n * col(sxx).cast("double") -
          col(sx).cast("double") * col(sx).cast("double")
        val db = n * col(syy).cast("double") -
          col(sy).cast("double") * col(sy).cast("double")
        when(da > 0 && db > 0, canon100(num / (sqrt(da) * sqrt(db))))
      }
      def pair(m1: String, m2: String, c: Column): Column =
        struct(lit(m1).as("m1"), lit(m2).as("m2"), c.as("corr_c"))
      agg.select(explode(array(
          pair("discount", "extendedprice", corrC("sd", "sp", "sdp", "sdd", "spp")),
          pair("discount", "quantity", corrC("sd", "sq", "sdq", "sdd", "sqq")),
          pair("discount", "tax", corrC("sd", "st", "sdt", "sdd", "stt")),
          pair("extendedprice", "quantity", corrC("sp", "sq", "spq", "spp", "sqq")),
          pair("extendedprice", "tax", corrC("sp", "st", "spt", "spp", "stt")),
          pair("quantity", "tax", corrC("sq", "st", "sqt", "sqq", "stt"))
        )).as("r"))
        .select(col("r.m1").as("m1"), col("r.m2").as("m2"),
          col("r.corr_c").as("corr_c"))
        .orderBy("m1", "m2")
    }),

    // KMV set-operation sketch: for every event-type pair, the estimated
    // distinct-user overlap by inclusion–exclusion — est(A) + est(B) −
    // est(A∪B), where the union sketch is the re-ranked k-minima of the
    // two sketches (the classic mergeable-KMV union). Everything
    // downstream of the two-phase sketch build touches ≤ k rows per
    // type and ≤ 2k rows per pair; |types|² pairs total.
    "sketch_kmv_intersect" -> ((s, d) => {
      val k = 32
      val ev = Tables.events(s, d)
      val est = Sketches.kmvDistinct(ev, col("event_type"), col("user_id"), k)
        .select(col("group"), col("est"))
      val sk = Sketches.kmvSketchRows(ev, col("event_type"), col("user_id"), k)
      val pairs = est.select(col("group").as("ta"), col("est").as("est_a"))
        .join(broadcast(est.select(col("group").as("tb"), col("est").as("est_b"))),
          col("ta") < col("tb"))
      val prA = pairs.join(sk.select(col("group").as("ta"),
        col("id"), col("u")), "ta")
      val prB = pairs.join(sk.select(col("group").as("tb"),
        col("id"), col("u")), "tb")
      val pu = prA.select("ta", "tb", "id", "u")
        .unionByName(prB.select("ta", "tb", "id", "u"))
        .dropDuplicates("ta", "tb", "id")
      val wP = Window.partitionBy("ta", "tb").orderBy(col("u"), col("id"))
      val uk = pu.withColumn("rk", row_number().over(wP))
        .filter(col("rk") === k)
        .select(col("ta"), col("tb"), col("u").as("u_k"))
      val mn = pu.groupBy("ta", "tb").agg(count(lit(1)).as("m_n"))
      pairs.join(mn, Seq("ta", "tb")).join(uk, Seq("ta", "tb"), "left")
        .withColumn("est_u", coalesce(lit((k - 1).toDouble) / col("u_k"),
          col("m_n").cast("double")))
        .select(col("ta"), col("tb"),
          canon100(col("est_a")).as("est_a_c"),
          canon100(col("est_b")).as("est_b_c"),
          canon100(col("est_u")).as("est_union_c"),
          canon100(greatest(col("est_a") + col("est_b") - col("est_u"),
            lit(0.0))).as("est_inter_c"))
        .orderBy("ta", "tb")
    })
  )

  def oracles: Map[String, String] = Map(
    "bpe_merge_step" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS tks FROM documents
        |           WHERE len(str_split(text, ' ')) >= 2),
        |pr AS (SELECT doc_id, i AS p, tks[i] AS w1, tks[i+1] AS w2
        |       FROM t, unnest(generate_series(1, len(tks) - 1)) u(i)),
        |top AS (SELECT w1, w2 FROM (SELECT w1, w2, count(*) AS c
        |          FROM pr GROUP BY 1, 2)
        |        ORDER BY c DESC, w1, w2 LIMIT 1),
        |m AS (SELECT pr.doc_id, pr.p,
        |        pr.p - row_number() OVER (PARTITION BY pr.doc_id ORDER BY pr.p) AS grp
        |      FROM pr JOIN top USING (w1, w2)),
        |runs AS (SELECT doc_id, grp, count(*) AS len FROM m GROUP BY 1, 2),
        |res AS (SELECT doc_id, CAST(sum((len + 1) // 2) AS BIGINT) AS n_merges
        |        FROM runs GROUP BY 1)
        |SELECT res.doc_id, top.w1, top.w2, res.n_merges
        |FROM res, top ORDER BY res.doc_id""".stripMargin,

    "emb_covariance_topk" ->
      """WITH c AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 100000) AS BIGINT) AS q
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
        |sums AS (SELECT pos, CAST(sum(q) AS BIGINT) AS sx FROM c GROUP BY pos),
        |n AS (SELECT count(DISTINCT vec_id) AS n FROM c),
        |p AS (SELECT a.pos AS di, b.pos AS dj, CAST(sum(a.q * b.q) AS BIGINT) AS sxy
        |  FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.pos <= b.pos
        |  GROUP BY 1, 2),
        |cov AS (SELECT di, dj, n.n * sxy - si.sx * sj.sx AS cov_s
        |  FROM p JOIN sums si ON p.di = si.pos JOIN sums sj ON p.dj = sj.pos, n)
        |SELECT di, dj, cov_s FROM cov
        |ORDER BY abs(cov_s) DESC, di, dj LIMIT 20""".stripMargin,

    "emb_dim_stats" ->
      """WITH p AS (SELECT CAST(i - 1 AS BIGINT) AS pos,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i))
        |SELECT pos, count(*) AS n,
        |  CAST(floor(avg(v) * 10000) AS BIGINT) AS mean_c,
        |  CAST(floor(stddev_samp(v) * 100) AS BIGINT) AS sd_c,
        |  CAST(floor(min(v) * 10000) AS BIGINT) AS min_c,
        |  CAST(floor(max(v) * 10000) AS BIGINT) AS max_c
        |FROM p GROUP BY pos ORDER BY pos""".stripMargin,

    "unpivot_measures" ->
      """WITH u AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |         'discount' AS measure, l_discount AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'extendedprice',
        |         l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'quantity',
        |         l_quantity FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'tax',
        |         l_tax FROM lineitem)
        |SELECT l_orderkey, l_linenumber, measure,
        |  CAST(floor(val * 10000) AS BIGINT) AS val_c
        |FROM u ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "ts_autocorr" ->
      """WITH dly AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |a1 AS (SELECT event_type, 1 AS k, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS y FROM dly),
        |a2 AS (SELECT event_type, 2 AS k, x,
        |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS y FROM dly),
        |a3 AS (SELECT event_type, 3 AS k, x,
        |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS y FROM dly),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |      UNION ALL SELECT * FROM a3),
        |g AS (SELECT event_type, k, count(*) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy
        |  FROM u WHERE y IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, CAST(k AS BIGINT) AS k, n_pairs,
        |  CASE WHEN n_pairs*sxx - sx*sx > 0 AND n_pairs*syy - sy*sy > 0
        |    THEN CAST(floor(CAST(n_pairs*sxy - sx*sy AS DOUBLE) /
        |      (sqrt(CAST(n_pairs*sxx - sx*sx AS DOUBLE)) *
        |       sqrt(CAST(n_pairs*syy - sy*sy AS DOUBLE))) * 100) AS BIGINT)
        |    ELSE NULL END AS r_c
        |FROM g ORDER BY event_type, k""".stripMargin,

    // quantized-integer distances via the shared vectorized kNN fragment
    // (MetricsOps.knnSql) — sf0.1-sweepable, unlike the old per-pair
    // list-lambda formulation
    "knn_classify_eval" ->
      s"""WITH ${MetricsOps.knnSql(1000)},
        |v AS (SELECT qid, nlabel, count(*) AS c
        |      FROM rnk WHERE rk <= 5 GROUP BY 1, 2),
        |p AS (SELECT qid, nlabel AS pred, row_number() OVER (PARTITION BY qid
        |    ORDER BY c DESC, nlabel) AS pr FROM v),
        |j AS (SELECT CAST(t.label AS BIGINT) AS label, p.pred
        |      FROM p JOIN q0 t ON p.qid = t.vec_id WHERE p.pr = 1)
        |SELECT label, count(*) AS n,
        |  CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS correct,
        |  (CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // count(*) AS acc_ppm
        |FROM j GROUP BY label ORDER BY label""".stripMargin,

    // merged shard top-k ≡ direct global sample — same oracle text as
    // sample_weighted (SampleOps), duplicated verbatim on purpose: the
    // DIFFERENTIAL claim is that the sharded plan matches the direct
    // formulation.
    "sample_weighted_merge" -> {
      val hv = Sampling.hexDecodeSql("m")
      s"""WITH u AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS m
        |    FROM documents),
        |h AS (SELECT doc_id, n_chars, $hv AS hv FROM u),
        |p AS (SELECT doc_id, n_chars,
        |    -ln(CAST(hv + 1 AS DOUBLE) / 16777217.0) /
        |      greatest(CAST(n_chars AS DOUBLE), 1e-12) AS pri
        |  FROM h),
        |top AS (SELECT * FROM p ORDER BY pri, doc_id LIMIT 100)
        |SELECT doc_id, n_chars,
        |  CAST(floor(pri * 100000000.0) AS BIGINT) AS pri_c
        |FROM top ORDER BY doc_id""".stripMargin
    },

    "chisq_independence" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT *, sum(n) OVER (PARTITION BY o_orderstatus) AS rn,
        |    sum(n) OVER (PARTITION BY o_orderpriority) AS cn,
        |    sum(n) OVER () AS tot FROM c),
        |e AS (SELECT *, CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) /
        |    CAST(tot AS DOUBLE) AS e FROM w)
        |SELECT o_orderstatus, o_orderpriority, n,
        |  CAST(floor(e * 100) AS BIGINT) AS e_c,
        |  CAST(floor((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e
        |    * 100) AS BIGINT) AS contrib_c
        |FROM e ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "corr_measures" ->
      """WITH li AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice) AS BIGINT) AS p,
        |    CAST(floor(l_discount * 100) AS BIGINT) AS dd,
        |    CAST(floor(l_tax * 100) AS BIGINT) AS tx
        |  FROM lineitem),
        |a AS (SELECT count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp,
        |    CAST(sum(dd) AS BIGINT) AS sd, CAST(sum(tx) AS BIGINT) AS st,
        |    sum(CAST(q*q AS HUGEINT)) AS sqq, sum(CAST(p*p AS HUGEINT)) AS spp,
        |    sum(CAST(dd*dd AS HUGEINT)) AS sdd, sum(CAST(tx*tx AS HUGEINT)) AS stt,
        |    sum(CAST(dd*p AS HUGEINT)) AS sdp, sum(CAST(dd*q AS HUGEINT)) AS sdq,
        |    sum(CAST(dd*tx AS HUGEINT)) AS sdt, sum(CAST(p*q AS HUGEINT)) AS spq,
        |    sum(CAST(p*tx AS HUGEINT)) AS spt, sum(CAST(q*tx AS HUGEINT)) AS sqt
        |  FROM li),
        |pairs AS (
        |  SELECT 'discount' AS m1, 'extendedprice' AS m2,
        |    sd AS sx, sp AS sy, sdp AS sxy, sdd AS sxx, spp AS syy, n FROM a
        |  UNION ALL SELECT 'discount', 'quantity', sd, sq, sdq, sdd, sqq, n FROM a
        |  UNION ALL SELECT 'discount', 'tax', sd, st, sdt, sdd, stt, n FROM a
        |  UNION ALL SELECT 'extendedprice', 'quantity', sp, sq, spq, spp, sqq, n FROM a
        |  UNION ALL SELECT 'extendedprice', 'tax', sp, st, spt, spp, stt, n FROM a
        |  UNION ALL SELECT 'quantity', 'tax', sq, st, sqt, sqq, stt, n FROM a)
        |SELECT m1, m2,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |    THEN CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |       sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 100) AS BIGINT)
        |    ELSE NULL END AS corr_c
        |FROM pairs ORDER BY m1, m2""".stripMargin,

    "sketch_kmv_intersect" -> {
      val hv = Sampling.hexDecodeSql("m")
      s"""WITH dist AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT event_type, user_id,
        |    CAST($hv + 1 AS DOUBLE) / 16777217.0 AS uv
        |  FROM (SELECT event_type, user_id,
        |      md5(CAST(user_id AS VARCHAR)) AS m FROM dist) z),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY uv, user_id) AS rn FROM h),
        |sk AS (SELECT event_type, user_id, uv FROM r WHERE rn <= 32),
        |ex AS (SELECT event_type, count(*) AS n FROM dist GROUP BY 1),
        |est AS (SELECT ex.event_type,
        |    coalesce(31.0 / kth.u_k, CAST(ex.n AS DOUBLE)) AS est
        |  FROM ex LEFT JOIN (SELECT event_type, uv AS u_k FROM r
        |    WHERE rn = 32) kth ON ex.event_type = kth.event_type),
        |prs AS (SELECT a.event_type AS ta, a.est AS est_a,
        |    b.event_type AS tb, b.est AS est_b
        |  FROM est a JOIN est b ON a.event_type < b.event_type),
        |pu AS (SELECT DISTINCT ta, tb, user_id, uv FROM (
        |    SELECT p.ta, p.tb, s.user_id, s.uv FROM prs p
        |      JOIN sk s ON s.event_type = p.ta
        |    UNION ALL
        |    SELECT p.ta, p.tb, s.user_id, s.uv FROM prs p
        |      JOIN sk s ON s.event_type = p.tb) t),
        |pr AS (SELECT *, row_number() OVER (PARTITION BY ta, tb
        |    ORDER BY uv, user_id) AS rk FROM pu),
        |un AS (SELECT ta, tb, count(*) AS m_n FROM pu GROUP BY 1, 2),
        |uk AS (SELECT ta, tb, uv AS u_k FROM pr WHERE rk = 32),
        |eu AS (SELECT un.ta, un.tb,
        |    coalesce(31.0 / uk.u_k, CAST(un.m_n AS DOUBLE)) AS est_u
        |  FROM un LEFT JOIN uk ON un.ta = uk.ta AND un.tb = uk.tb)
        |SELECT p.ta, p.tb,
        |  CAST(floor(p.est_a * 100) AS BIGINT) AS est_a_c,
        |  CAST(floor(p.est_b * 100) AS BIGINT) AS est_b_c,
        |  CAST(floor(eu.est_u * 100) AS BIGINT) AS est_union_c,
        |  CAST(floor(greatest(p.est_a + p.est_b - eu.est_u, 0.0) * 100)
        |    AS BIGINT) AS est_inter_c
        |FROM prs p JOIN eu ON p.ta = eu.ta AND p.tb = eu.tb
        |ORDER BY p.ta, p.tb""".stripMargin
    }
  )
}
