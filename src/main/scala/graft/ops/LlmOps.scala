package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.io.Tables.{canon, canon100}
import graft.catalyst.Kernels

/** §2.8 LLM-data-pipeline operators (SURVEY.md): tokenization, dedup
  * (exact + near-dup Jaccard), vector similarity search, centroids, k-NN,
  * multimodal joins, feed→warehouse enrichment.
  *
  * Scale notes (100 TB): tokenize/bigrams are Generator (explode) pipelines
  * — fully parallel, no shuffle until the final aggregate. Exact dedup is a
  * hash aggregate on the fingerprint. Near-dup uses an EXACT prefix-filtered
  * candidate generator (All-Pairs / PPJoin prefix principle): tokens are
  * globally ordered by ascending document frequency and each doc posts only
  * its rarest floor(n/2)+1 distinct tokens, so a corpus-scale stop-token
  * never self-joins quadratically; surviving candidate pairs are verified by
  * intersecting full token sets. Probabilistic MinHash-LSH banding and the
  * IVF ANN path live in graft.ops.Pipeline as separate operators. Brute
  * cosine/k-NN broadcast the (small, bounded) query side.
  *
  * All float folds are in-list-order HOFs with explicit double casts so
  * Spark and DuckDB produce bit-identical doubles.
  */
object LlmOps {

  /** Sum of squares of a float vector, exact in-order double ops — the
    * native codegen'd kernel (graft.catalyst.VecDotExpr), bit-identical to
    * the HOF fold it replaces. */
  private def ssq(a: Column): Column = Kernels.vecDot(a, a)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // whitespace tokenize → explode → global token frequencies, top-50
    "text_tokenize_topk" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(50)
    }),

    // top-5 bigrams per language — single pass, no self-join; the native
    // word_bigrams kernel replaces a per-position interpreted HOF concat
    "text_bigrams" -> ((s, d) => {
      val counted = Tables.documents(s, d)
        .select(col("lang"), explode(Kernels.wordBigrams(col("text"))).as("bg"))
        .groupBy("lang", "bg").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("bg"))
      counted.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .orderBy("lang", "rk")
    }),

    // per-language corpus stats
    "text_stats_lang" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          canon(avg(col("n_chars"))).as("avg_chars_c"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    }),

    // exact duplicate clusters by content fingerprint
    "text_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy("fp")
    }),

    // near-duplicate word-token pairs, EXACT at scale — delegates to the
    // shared adaptive set-similarity join (graft.api.Curation.nearDupPairs:
    // dense-bitset popcount verify for small dictionaries, All-Pairs
    // prefix + PPJoin for the 100 TB large-dictionary shape).
    "text_dedup_near" -> ((s, d) => {
      val docsT = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          array_distinct(split(col("text"), " ")).as("tks"))
      graft.api.Curation.nearDupPairs(docsT, col("doc_id"), col("tks"),
          col("lang"), col("n_chars"), tau = 0.5)
        .withColumn("jac",
          col("shared") * lit(10000.0) / (col("n1") + col("n2") - col("shared")))
        .select(col("d1"), col("d2"), floor(col("jac")).cast("long").as("jac_c"))
        .orderBy("d1", "d2")
    }),

    // L2 norm per embedding
    "vec_norm" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"), canon100(sqrt(ssq(col("embedding")))).as("norm_c"))
        .orderBy("vec_id")
    }),

    // similarity search: cosine vs query vector (vec 0), top-10
    "vec_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos",
          Kernels.vecDot(col("embedding"), col("qe")) /
            (sqrt(ssq(col("embedding"))) * sqrt(ssq(col("qe")))))
        .select(col("vec_id"), canon(col("cos")).as("cos_c"))
        .orderBy(col("cos_c").desc, col("vec_id")).limit(10)
    }),

    // per-label centroid vector (floor-canon per component, CSV-serialized
    // so the oracle harness can hash the array)
    "vec_centroid_label" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(avg(col("v").cast("double")).as("cv"))
        .groupBy("label")
        .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), canon(col("cv")).as("c")))),
          s => s.getField("c")).cast("array<string>"), ",").as("centroid_c"))
        .orderBy("label")
    }),

    // brute-force k-NN: 5 nearest others for query vecs id<5 (squared L2)
    "vec_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val dist = Kernels.vecSqDist(col("embedding"), col("qe"))
      val w = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("dist", dist)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"), canon(col("dist")).as("dist_c"))
        .orderBy("qid", "rk")
    }),

    // multimodal: text metadata ⋈ vectors in one relation, per-language
    "multimodal_join" -> ((s, d) => {
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .withColumn("norm", sqrt(ssq(col("embedding"))))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          canon100(avg(col("norm"))).as("avg_norm_c"),
          canon(avg(col("n_chars"))).as("avg_chars_c"))
        .orderBy("lang")
    }),

    // feed → warehouse enrichment: events ⋈ customer + JSON payload field
    "events_enrich_model" -> ((s, d) => {
      Tables.events(s, d)
        .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum(when(col("event_type") === "purchase", canon(col("value"), 100)).otherwise(0L)).as("rev_c"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // MMR diversity re-rank (λ=0.7, k=5 over a top-20 cosine shortlist):
    // each pick maximizes 7·sim(q,d) − 3·max_{s∈selected} sim(d,s) in
    // CANON integers (ties → smallest vec_id), so the greedy is exact in
    // both engines. Shortlist + 20×20 pairwise sims are computed
    // distributed; the greedy itself runs on the driver over ≤400
    // collected pairs — bounded by construction (k and the shortlist are
    // constants, never data-sized). The oracle unrolls the same five
    // argmax steps as chained CTEs.
    "retrieval_mmr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val sl = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .withColumn("simq_c", canon(Kernels.vecDot(col("embedding"), col("qe")) /
          (sqrt(ssq(col("embedding"))) * sqrt(ssq(col("qe"))))))
        .select(col("vec_id"), col("embedding"), col("simq_c"))
        .orderBy(col("simq_c").desc, col("vec_id")).limit(20)
        .localCheckpoint()
      val a = sl.select(col("vec_id").as("av"), col("embedding").as("ea"))
      val b = sl.select(col("vec_id").as("bv"), col("embedding").as("eb"))
      val pairs = a.join(broadcast(b), col("av") =!= col("bv"))
        .withColumn("sim_c", canon(Kernels.vecDot(col("ea"), col("eb")) /
          (sqrt(ssq(col("ea"))) * sqrt(ssq(col("eb"))))))
        .select("av", "bv", "sim_c")
      val short = sl.select("vec_id", "simq_c").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val ps = pairs.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      var selected = Vector.empty[(Long, Long, Long)] // (vec_id, simq_c, mmr_c)
      var remaining = short.toVector
      (1 to 5).foreach { _ =>
        val scored = remaining.map { case (v, sq) =>
          val pen = if (selected.isEmpty) 0L
            else selected.map(sel => ps((v, sel._1))).max
          (v, sq, 7L * sq - 3L * pen)
        }
        val best = scored.minBy { case (v, _, m) => (-m, v) }
        selected :+= best
        remaining = remaining.filterNot(_._1 == best._1)
      }
      import s.implicits._
      selected.zipWithIndex
        .map { case ((v, sq, m), i) => (i + 1L, v, sq, m) }
        .toDF("rk", "vec_id", "simq_c", "mmr_c")
        .orderBy("rk")
    })
  )

  /** DuckDB cosine between two FLOAT[] refs — fixed-order fold identical
    * to the native `vec_dot` kernel's summation order. */
  private def cosSql(x: String, y: String): String = {
    def dotS(p: String, r: String) =
      s"list_reduce(list_transform(generate_series(1, len($p)), " +
        s"i -> CAST($p[i] AS DOUBLE) * CAST($r[i] AS DOUBLE)), (u, w) -> u + w)"
    s"${dotS(x, y)} / (sqrt(${dotS(x, x)}) * sqrt(${dotS(y, y)}))"
  }

  /** Unrolled 5-step MMR oracle: sel_i picks argmax of
    * 7·simq − 3·max(sim to already-selected) with vec_id tiebreak. */
  private def mmrOracle: String = {
    val steps = (2 to 5).map { i =>
      val prev = (1 until i).map(j => s"SELECT vec_id FROM sel$j")
        .mkString(" UNION ALL ")
      s"""sel$i AS (SELECT c.vec_id, c.simq_c,
         |  7 * c.simq_c - 3 * (SELECT max(p.sim_c) FROM ps p
         |    WHERE p.av = c.vec_id AND p.bv IN ($prev)) AS mmr_c
         |  FROM sl c WHERE c.vec_id NOT IN ($prev)
         |  ORDER BY mmr_c DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val union = (1 to 5).map(i =>
      s"SELECT $i AS rk, vec_id, simq_c, mmr_c FROM sel$i").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |sl AS (SELECT vec_id, embedding,
       |    CAST(floor((${cosSql("embedding", "qe")}) * 10000) AS BIGINT) AS simq_c
       |  FROM embeddings, q WHERE vec_id <> 0
       |  ORDER BY simq_c DESC, vec_id LIMIT 20),
       |ps AS (SELECT a.vec_id AS av, b.vec_id AS bv,
       |    CAST(floor((${cosSql("a.embedding", "b.embedding")}) * 10000) AS BIGINT) AS sim_c
       |  FROM sl a, sl b WHERE a.vec_id <> b.vec_id),
       |sel1 AS (SELECT vec_id, simq_c, 7 * simq_c AS mmr_c FROM sl
       |  ORDER BY simq_c DESC, vec_id LIMIT 1),
       |$steps
       |SELECT CAST(rk AS BIGINT) AS rk, vec_id, simq_c,
       |  CAST(mmr_c AS BIGINT) AS mmr_c
       |FROM ($union) ORDER BY rk""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "retrieval_mmr" -> mmrOracle,
    "text_tokenize_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,

    "text_bigrams" ->
      """WITH b AS (
        |  SELECT lang, unnest(list_transform(generate_series(1, len(str_split(text, ' ')) - 1),
        |    i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i + 1])) AS bg
        |  FROM documents),
        |c AS (SELECT lang, bg, count(*) AS n FROM b GROUP BY lang, bg),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, bg) AS rk FROM c)
        |SELECT lang, bg, n, rk FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    "text_stats_lang" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(floor(avg(n_chars) * 10000) AS BIGINT) AS avg_chars_c,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS first_doc, count(*) AS n
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1 ORDER BY fp""".stripMargin,

    "text_dedup_near" ->
      """WITH tok AS (SELECT DISTINCT doc_id, lang, n_chars,
        |    unnest(str_split(text, ' ')) AS tk FROM documents),
        |cnt AS (SELECT doc_id, count(*) AS ntk FROM tok GROUP BY doc_id),
        |pair AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.lang = b.lang
        |    AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 20
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  CAST(floor(shared * 10000.0 / (ca.ntk + cb.ntk - shared)) AS BIGINT) AS jac_c
        |FROM pair JOIN cnt ca ON d1 = ca.doc_id JOIN cnt cb ON d2 = cb.doc_id
        |WHERE shared * 1.0 / (ca.ntk + cb.ntk - shared) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    "vec_norm" ->
      """SELECT vec_id, CAST(floor(sqrt(list_reduce(list_transform(
        |    generate_series(1, len(embedding)),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b)) * 100) AS BIGINT) AS norm_c
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "vec_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |  list_reduce(list_transform(generate_series(1, len(embedding)),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b) /
        |  (sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) *
        |   sqrt(list_reduce(list_transform(generate_series(1, len(qe)),
        |    i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b))) AS cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, CAST(floor(cos * 10000) AS BIGINT) AS cos_c
        |FROM s ORDER BY cos_c DESC, vec_id LIMIT 10""".stripMargin,

    "vec_centroid_label" ->
      """WITH p AS (SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
        |a AS (SELECT label, pos, CAST(floor(avg(v) * 10000) AS BIGINT) AS c
        |  FROM p GROUP BY label, pos)
        |SELECT label, array_to_string(list(c ORDER BY pos), ',') AS centroid_c
        |FROM a GROUP BY label ORDER BY label""".stripMargin,

    "vec_knn_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id,
        |  list_reduce(list_transform(generate_series(1, len(embedding)),
        |    i -> (CAST(embedding[i] AS DOUBLE) - CAST(qe[i] AS DOUBLE)) *
        |         (CAST(embedding[i] AS DOUBLE) - CAST(qe[i] AS DOUBLE))), (a, b) -> a + b) AS dist
        |  FROM embeddings, q WHERE vec_id <> qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk FROM s)
        |SELECT qid, rk, vec_id, CAST(floor(dist * 10000) AS BIGINT) AS dist_c
        |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "multimodal_join" ->
      """SELECT lang, count(*) AS n,
        |  CAST(floor(avg(sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b))) * 100) AS BIGINT) AS avg_norm_c,
        |  CAST(floor(avg(n_chars) * 10000) AS BIGINT) AS avg_chars_c
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "events_enrich_model" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev_c,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  )
}
