package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.api.Sampling

/** §2.31 late-interaction retrieval, series downsampling & chunk
  * stitching — the ColBERT-style maxsim scorer (each 64-dim embedding
  * treated as 8 token sub-vectors of 8 dims; score = Σ_i max_j ⟨qᵢ, dⱼ⟩),
  * an LTTB-flavored visual downsampler over the daily event series, the
  * chunk-boundary overlap report a RAG stitcher consumes, and the plain
  * hash-Bernoulli sampler completing the sampling family.
  *
  * Scale shapes (100 TB notes):
  *  - vec_maxsim_topk: the query panel is bounded (5 queries) and
  *    broadcasts; each doc row evaluates 8×8 integer sub-dots in a
  *    per-row nested lambda (map-side, codegen'd) — canon(1e4)
  *    coordinates keep every product/sum exact BIGINT, so max/sum
  *    ordering cannot diverge between engines.
  *  - ts_downsample_lttb: all work beyond the daily aggregate runs over
  *    the calendar-sized bucket relation; the triangle area is
  *    cross-multiplied by the anchor-bucket sizes so it stays integral
  *    (no mean division before the argmax).
  *  - text_overlap_stitch: three map-side-combinable aggregates joined
  *    on the boundary string — pair counts are PRODUCTS of group sizes,
  *    never materialized pairs.
  *  - sample_bernoulli_hash: pure per-row md5 predicate, zero shuffle
  *    before the output sort; the acceptance test is integer-exact
  *    (24-bit hash ≡ 0 mod 8).
  */
object RetrievalOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ColBERT-style late interaction over sub-vectors: query panel
    // vec_id < 5; score(q, d) = Σ_{i<8} max_{j<8} Σ_{k<8}
    // qc[8i+k]·dc[8j+k] on canon(1e4) integer coordinates. Top-3 docs
    // per query (ties to smallest doc id).
    "vec_maxsim_topk" -> ((s, d) => {
      val canonArr = "transform(embedding, " +
        "x -> cast(floor(cast(x as double) * 10000) as bigint))"
      val emb = Tables.embeddings(s, d)
      val docs = emb.select(col("vec_id").as("id"),
        expr(canonArr).as("dc"))
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), expr(canonArr).as("qc"))
      val score = expr(
        "aggregate(sequence(0, 7), cast(0 as bigint), (acc, i) -> acc + " +
          "array_max(transform(sequence(0, 7), j -> " +
            "aggregate(sequence(1, 8), cast(0 as bigint), (a, k) -> " +
              "a + element_at(qc, i*8+k) * element_at(dc, j*8+k)))))")
      val wQ = Window.partitionBy("qid")
        .orderBy(col("maxsim").desc, col("id"))
      docs.crossJoin(broadcast(qs))
        .filter(col("id") =!= col("qid"))
        .withColumn("maxsim", score)
        .withColumn("rk", row_number().over(wQ).cast("long"))
        .filter(col("rk") <= 3)
        .select("qid", "rk", "id", "maxsim")
        .orderBy("qid", "rk")
    }),

    // FILTERED vector search — the composition modern vector stores
    // struggle with: exact top-5 by squared L2 among ONLY the corpus
    // rows matching a metadata predicate (label ∈ {1, 2}), for the
    // bounded query panel. The filter prunes BEFORE the distance kernel
    // (predicate-then-search, not post-filtering a top-k, which can
    // return < k); the oracle proves the semantics.
    "vec_filtered_knn" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val filtered = emb.filter(col("label").isin(1, 2))
      val probes = emb.filter(col("vec_id") < 5)
      val nn = graft.api.Vectors.knn(filtered, col("vec_id"),
        col("embedding"), probes, col("vec_id"), col("embedding"), k = 5)
      nn.select(col("qid"), col("rank").cast("long").as("rank"),
          col("id"), floor(col("dist") * 10000).cast("long").as("dist_c"))
        .orderBy("qid", "rank")
    }),

    // Dwell-time statistics on journey EDGES: per (prev type → type)
    // transition, the count and mean gap in seconds (integer) — the
    // timing layer on top of the transition-count Markov matrix.
    "transition_dwell_stats" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("ts_us") - col("prev_ts")).as("gap_sum_us"))
        .withColumn("mean_gap_s", expr("(gap_sum_us div n) div 1000000"))
        .select("prev_type", "event_type", "n", "mean_gap_s")
        .orderBy("prev_type", "event_type")
    }),

    // LTTB-flavored downsampling of the per-type daily series: rows
    // bucketed 5 per bucket (by row index); each interior bucket keeps
    // the point with the LARGEST triangle area against the neighbor
    // buckets' mean points. The area comparison is cross-multiplied by
    // both anchor sizes (|nA·nC·area×2|) so the argmax is pure integer.
    "ts_downsample_lttb" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val pts = daily.withColumn("b",
        expr("(row_number() over (partition by event_type order by day) - 1) div 5"))
      val buckets = pts.groupBy("event_type", "b")
        .agg(count(lit(1)).as("n"), sum("day").as("sd"), sum("x").as("sx"))
      val wB = Window.partitionBy("event_type").orderBy("b")
      val anchored = buckets
        .withColumn("na", lag("n", 1).over(wB))
        .withColumn("sda", lag("sd", 1).over(wB))
        .withColumn("sxa", lag("sx", 1).over(wB))
        .withColumn("nc", lead("n", 1).over(wB))
        .withColumn("sdc", lead("sd", 1).over(wB))
        .withColumn("sxc", lead("sx", 1).over(wB))
        .filter(col("na").isNotNull && col("nc").isNotNull)
        .select("event_type", "b", "na", "sda", "sxa", "nc", "sdc", "sxc")
      pts.join(anchored, Seq("event_type", "b"))
        .withColumn("area2", abs(
          (col("sda") - col("day") * col("na")) *
            (col("sxc") - col("x") * col("nc")) -
          (col("sdc") - col("day") * col("nc")) *
            (col("sxa") - col("x") * col("na"))))
        .groupBy("event_type", "b")
        .agg(max(struct(col("area2"), (-col("day")).as("nd"), col("x")))
          .as("m"))
        .select(col("event_type"), col("b"), (-col("m.nd")).as("day"),
          col("m.x").as("x"), col("m.area2").as("area2"))
        .orderBy("event_type", "b")
    }),

    // Chunk-boundary overlap report: per 3-token boundary string, how
    // many documents END with it, how many START with it, and the
    // stitchable pair count |ends|·|starts| − |self| (docs that both
    // start and end with it do not stitch to themselves). Group-size
    // products — pairs are never materialized.
    "text_overlap_stitch" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tks"))
        .filter(size(col("tks")) >= 3)
        .select(col("doc_id"),
          concat_ws(" ", slice(col("tks"), 1, 3)).as("first3"),
          concat_ws(" ", slice(col("tks"), -3, 3)).as("last3"))
      val ends = toks.groupBy(col("last3").as("boundary"))
        .agg(count(lit(1)).as("n_end"))
      val starts = toks.groupBy(col("first3").as("boundary"))
        .agg(count(lit(1)).as("n_start"))
      val selfs = toks.filter(col("first3") === col("last3"))
        .groupBy(col("first3").as("boundary"))
        .agg(count(lit(1)).as("n_self"))
      ends.join(starts, "boundary")
        .join(selfs, Seq("boundary"), "left")
        .withColumn("n_pairs",
          col("n_end") * col("n_start") - coalesce(col("n_self"), lit(0L)))
        .filter(col("n_pairs") > 0)
        .select("boundary", "n_end", "n_start", "n_pairs")
        .orderBy("boundary")
    }),

    // Plain hash-Bernoulli sample at rate 1/8: accept doc when the
    // md5-derived 24-bit integer is ≡ 0 (mod 8) — 2²⁴ is divisible by 8
    // so the rate is exact, and the integer decode (Sampling.hashBucket)
    // never touches a float. The stateless deterministic coin every
    // pipeline stage can recompute.
    "sample_bernoulli_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(Sampling.hashBucket(col("doc_id"), 8) === 0L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id"))
  )

  def oracles: Map[String, String] = Map(
    "vec_maxsim_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS c
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, c AS qc FROM e WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id AS id,
        |    list_reduce(list_transform(generate_series(0, 7), i ->
        |      list_max(list_transform(generate_series(0, 7), j ->
        |        list_reduce(list_transform(generate_series(1, 8), k ->
        |          q.qc[i*8+k] * e.c[j*8+k]), (a, b) -> a + b)))),
        |      (a, b) -> a + b) AS maxsim
        |  FROM q JOIN e ON e.vec_id <> q.qid),
        |rnk AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY maxsim DESC, id) AS rk FROM s)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, id, maxsim
        |FROM rnk WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    "vec_filtered_knn" ->
      """WITH d AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE label IN (1, 2)),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id < 5),
        |s AS (SELECT q.qid, d.vec_id AS id,
        |    list_reduce(list_transform(generate_series(1, len(d.embedding)),
        |      i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)) *
        |           (CAST(d.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dist
        |  FROM q JOIN d ON d.vec_id <> q.qid),
        |rnk AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY dist, id) AS rk FROM s)
        |SELECT qid, CAST(rk AS BIGINT) AS rank, id,
        |  CAST(floor(dist * 10000) AS BIGINT) AS dist_c
        |FROM rnk WHERE rk <= 5 ORDER BY qid, rank""".stripMargin,

    "transition_dwell_stats" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type FROM events),
        |l AS (SELECT *, lag(event_type) OVER w AS prev_type,
        |    lag(ts_us) OVER w AS prev_ts
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT prev_type, event_type, count(*) AS n,
        |  CAST((CAST(sum(ts_us - prev_ts) AS BIGINT) // count(*)) // 1000000
        |    AS BIGINT) AS mean_gap_s
        |FROM l WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY prev_type, event_type""".stripMargin,

    "ts_downsample_lttb" ->
      """WITH dly AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT *, (row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) - 1) // 5 AS b FROM dly),
        |bk AS (SELECT event_type, b, count(*) AS n,
        |    CAST(sum(day) AS BIGINT) AS sd, CAST(sum(x) AS BIGINT) AS sx
        |  FROM p GROUP BY 1, 2),
        |an AS (SELECT *, lag(n) OVER w AS na, lag(sd) OVER w AS sda,
        |    lag(sx) OVER w AS sxa, lead(n) OVER w AS nc,
        |    lead(sd) OVER w AS sdc, lead(sx) OVER w AS sxc
        |  FROM bk WINDOW w AS (PARTITION BY event_type ORDER BY b)),
        |cand AS (SELECT p.event_type, p.b, p.day, p.x,
        |    abs((a.sda - p.day * a.na) * (a.sxc - p.x * a.nc)
        |      - (a.sdc - p.day * a.nc) * (a.sxa - p.x * a.na)) AS area2
        |  FROM p JOIN an a ON p.event_type = a.event_type AND p.b = a.b
        |  WHERE a.na IS NOT NULL AND a.nc IS NOT NULL),
        |best AS (SELECT *, row_number() OVER (PARTITION BY event_type, b
        |    ORDER BY area2 DESC, day) AS rn FROM cand)
        |SELECT event_type, b, day, x, CAST(area2 AS BIGINT) AS area2
        |FROM best WHERE rn = 1 ORDER BY event_type, b""".stripMargin,

    "text_overlap_stitch" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS tks FROM documents
        |           WHERE len(str_split(text, ' ')) >= 3),
        |fl AS (SELECT doc_id,
        |    array_to_string(tks[1:3], ' ') AS first3,
        |    array_to_string(tks[-3:], ' ') AS last3 FROM t),
        |e AS (SELECT last3 AS boundary, count(*) AS n_end FROM fl GROUP BY 1),
        |st AS (SELECT first3 AS boundary, count(*) AS n_start
        |       FROM fl GROUP BY 1),
        |sf AS (SELECT first3 AS boundary, count(*) AS n_self FROM fl
        |       WHERE first3 = last3 GROUP BY 1)
        |SELECT e.boundary, e.n_end, st.n_start,
        |  CAST(e.n_end * st.n_start - coalesce(sf.n_self, 0) AS BIGINT)
        |    AS n_pairs
        |FROM e JOIN st ON e.boundary = st.boundary
        |LEFT JOIN sf ON e.boundary = sf.boundary
        |WHERE e.n_end * st.n_start - coalesce(sf.n_self, 0) > 0
        |ORDER BY e.boundary""".stripMargin,

    "sample_bernoulli_hash" -> {
      val hv = Sampling.hexDecodeSql("m")
      s"""WITH u AS (SELECT doc_id, source, n_chars,
        |    md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |h AS (SELECT doc_id, source, n_chars, ($hv) % 8 AS b FROM u)
        |SELECT doc_id, source, n_chars FROM h
        |WHERE b = 0 ORDER BY doc_id""".stripMargin
    }
  )
}
