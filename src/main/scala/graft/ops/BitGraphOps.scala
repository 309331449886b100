package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.api.Vectors
import graft.io.Tables
import graft.catalyst.Kernels

/** §2.44 (cont.) bit-packed vectors & graph structure (added round 6):
  * binary-quantized Hamming retrieval (the 1-bit/dim end of the
  * quantization spectrum next to int8 and PQ), multi-source BFS layers,
  * and the modularity score of the label-propagation communities.
  *
  * Scale shapes (100 TB notes):
  *  - vec_hamming_topk: 64 dims pack into TWO 32-bit sign words
  *    (8 bytes/vector — even PQ is 16 bytes here); the candidate scan is
  *    two XOR+popcounts per pair, the exact re-rank touches ≤ 20 full
  *    vectors per query. Two words rather than one 64-bit word because
  *    bit 63 would make the packed sum overflow-sensitive in engines
  *    that error on signed overflow — and the pair of 32-bit words keeps
  *    every intermediate exact everywhere.
  *  - graph_bfs_layers: per-hop frontier expansion off the u-partitioned
  *    edge cache, each frontier localCheckpointed (iterative lineage
  *    truncation) and de-duplicated against the visited set with an
  *    anti join — one keyed shuffle per hop, the textbook distributed
  *    BFS round.
  *  - graph_modularity: one |E|-row double label join (both sides off
  *    the u-partitioned cache), then a |communities|-sized aggregate;
  *    the single-row edge-count total broadcasts.
  */
object BitGraphOps {

  /** Pack sign bits of dims [lo+1, lo+32] into one BIGINT word (bit i =
    * dim lo+i+1 is ≥ 0). Sum of distinct powers of two < 2^32 — exact
    * in any engine. */
  private def signWord(vec: String, lo: Int): org.apache.spark.sql.Column =
    expr(s"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> " +
      s"acc + IF(element_at($vec, i + ${lo + 1}) >= 0, " +
      "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))")

  /** Int64 overflow guard for the betweenness walk-count cascade: walk
    * counts grow ~deg^l, so on a dense-enough graph the σ·(10⁶+δ)
    * products could silently wrap int64. The guard rides INSIDE each
    * product term (cumulativeFold's coalesce pattern,
    * api/Histograms.scala — column pruning cannot drop it): assert_true
    * returns null when the double-checked product is under the 8.4e18
    * headroom (0.8e18 under 2^63, covering double rounding), so the
    * coalesce contributes 0 to the sum — and a would-be wrap becomes a
    * loud job failure with this message, never a wrong answer. */
  private[graft] def sigmaGuard(prod: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(assert_true(prod < lit(8.4e18),
      lit("graph_betweenness_khop: walk-count sigma*(1e6+delta) product" +
        " approaches int64 — shrink the delta quantum or the hop depth")
    ).cast("long"), lit(0L))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary-quantized retrieval: 1 sign bit per dimension, Hamming
    // shortlist (top-20 by XOR popcount, ties by id), exact re-rank on
    // quantized-integer squared L2 (the knn_classify_eval distance
    // contract) cut to top-5 per query.
    "vec_hamming_topk" -> ((s, d) => {
      val packed = Tables.embeddings(s, d).select(col("vec_id"),
        Vectors.quantize(col("embedding"), 100000L).as("ev"),
        signWord("embedding", 0).as("w1"), signWord("embedding", 32).as("w2"))
      val q = packed.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("ev").as("qe"),
          col("w1").as("q1"), col("w2").as("q2"))
      val wH = Window.partitionBy("qid").orderBy(col("hd"), col("vec_id"))
      val wE = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
      packed.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("hd",
          expr("CAST(bit_count(w1 ^ q1) + bit_count(w2 ^ q2) AS BIGINT)"))
        .withColumn("rk1", row_number().over(wH))
        .filter(col("rk1") <= 20)
        .withColumn("dist", Kernels.vecSqDistLong(col("ev"), col("qe")))
        .withColumn("rk", row_number().over(wE))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk").cast("long").as("rk"), col("vec_id"),
          col("hd"), col("dist"))
        .orderBy("qid", "rk")
    }),

    // Multi-source BFS: hop-distance layer sizes from part keys
    // {1, 2, 3} over the co-purchase graph, 3 unrolled hops. For a
    // TRUNCATED k-hop BFS the visited anti-join is not needed for
    // correctness: expand each frontier with a per-hop `distinct`
    // (which alone bounds every frontier by |reachable V| per source —
    // the scale guard), then assign each node its min hop at the end.
    // Re-expanding an already-visited node costs ≤ one extra
    // |frontier|⋈edges row set per hop (bounded, k=3), and in exchange
    // the whole query is ONE declarative job — no per-hop driver
    // round-trips, anti-joins, or localCheckpoint materializations,
    // which made the loop shape pay ~12 scheduling latencies on a
    // loaded box. (Unbounded-depth BFS should keep the anti-join —
    // there visited ≫ frontier and pruning wins; see the k-core peel.)
    "graph_bfs_layers" -> ((s, d) => {
      val es = GraphOps.edges(s, d)
      val srcs = GraphOps.adjacency(s, d).select(col("u"))
        .filter(col("u").isin(1L, 2L, 3L))
        .select(col("u").as("src"), col("u"))
      def hopOut(f: DataFrame): DataFrame =
        f.join(es, "u").select(col("src"), col("v").as("u")).distinct()
      val f1 = hopOut(srcs)
      val f2 = hopOut(f1)
      val f3 = hopOut(f2)
      Seq(srcs -> 0L, f1 -> 1L, f2 -> 2L, f3 -> 3L)
        .map { case (f, h) => f.withColumn("hop", lit(h)) }
        .reduce(_ unionByName _)
        .groupBy("src", "u").agg(min("hop").as("hop"))
        .groupBy("src", "hop").agg(count(lit(1)).as("n_nodes"))
        .orderBy("src", "hop")
    }),

    // Deterministic random-walk sampling (the DeepWalk/node2vec corpus
    // stage with md5 in place of a PRNG): 16 walks × 3 steps from each
    // seed node; at every step the next hop is the neighbor at index
    // md5(src:walk:step:cur) mod degree in the node's SORTED adjacency
    // array — reproducible in any engine, restart-safe, and shardable
    // by walk id at 100 TB. Visit counts over all steps feed the
    // skip-gram trainer; the walk frontier is walks-sized (64 rows) and
    // each step is one join against the pinned adjacency cache.
    "graph_random_walk_counts" -> ((s, d) => {
      val adj = GraphOps.adjacency(s, d) // (u, vs sorted, deg)
      val seeds = adj.select(col("u"))
        .filter(col("u").isin(1L, 2L, 3L, 4L))
        .select(col("u").as("src"),
          explode(sequence(lit(0L), lit(15L))).as("w"))
      var frontier = seeds.withColumn("cur", col("src"))
      val visits = scala.collection.mutable.Buffer[DataFrame]()
      for (t <- 1 to 3) {
        frontier = frontier
          .join(adj.select(col("u").as("cur"), col("vs"), col("deg")), "cur")
          .withColumn("idx", pmod(graft.api.Sampling.hashDecode24(
            concat(col("src"), lit(":"), col("w"), lit(":"), lit(t),
              lit(":"), col("cur"))), col("deg")))
          .select(col("src"), col("w"),
            element_at(col("vs"), (col("idx") + 1).cast("int")).as("cur"))
          .localCheckpoint() // 64 rows; next step joins adjacency again
        visits += frontier.select(col("cur").as("node"))
      }
      visits.reduce(_ unionByName _)
        .groupBy("node").agg(count(lit(1)).as("visits"))
        .orderBy(col("visits").desc, col("node")).limit(30)
        .orderBy(col("visits").desc, col("node"))
    }),

    // One Borůvka MST round over the co-purchase graph with
    // deterministic md5 edge weights: every node selects its
    // minimum-weight incident edge (exact integer weights — no float
    // ties; tie on weight breaks by neighbor id via the min-struct),
    // the selected edges dedup to their canonical orientation, and the
    // resulting component forest is summarized per component (rep =
    // smallest member). THE parallel-MST building block: each round is
    // one node-keyed argmin aggregate + one CC pass, components at
    // least halve per round ⇒ O(log V) rounds at any scale. CC takes
    // the size-gated driver union-find (selected edges ≤ |V| by
    // construction) with the distributed hook+compress twin proven
    // under dedup_cluster_cc_dist.
    "graph_mst_boruvka_step" -> ((s, d) => {
      val es = GraphOps.edges(s, d)
      val weighted = es.withColumn("w", graft.api.Sampling.hashDecode24(
        concat(least(col("u"), col("v")), lit(":"), greatest(col("u"), col("v")))))
      val sel = weighted
        .groupBy("u")
        .agg(min(struct(col("w"), col("v").as("nb"))).as("m"))
        .select(least(col("u"), col("m.nb")).as("a"),
          greatest(col("u"), col("m.nb")).as("b"), col("m.w").as("w"))
        .distinct()
        .localCheckpoint() // ≤|V| rows; feeds CC + the weight rollup
      val cc = graft.ops.TrainOps.connectedComponents(
        sel.select(col("a").as("src"), col("b").as("dst")))
      val sizes = cc.groupBy(col("cluster_rep").as("rep"))
        .agg(count(lit(1)).as("n_nodes"))
      val edgeAgg = sel
        .join(cc.select(col("node").as("a"), col("cluster_rep").as("rep")), "a")
        .groupBy("rep")
        .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("sum_w"))
      sizes.join(edgeAgg, Seq("rep")).orderBy("rep")
    }),

    // k-hop Brandes betweenness (sources 1–4, paths truncated at 4
    // hops — the standard bounded variant for graphs whose full Brandes
    // is O(V·E)): forward BFS accumulates per-source shortest-path
    // counts σ layer by layer, then the backward pass folds dependencies
    // down the layers: δq(v) = Σ_succ ⌊σv·(10⁶ + δq(w)) / σw⌋ — integer
    // division of positive integers, so the quantized accumulation is
    // exact in any engine (the PageRank quantize-per-step discipline
    // applied to Brandes).
    //
    // The 4 sources are FUSED into per-source state columns on ONE
    // |V|-row relation instead of a (src, v)-keyed one: every edge pass
    // serves all sources at once (≤|E| rows, not 4×|E| source-tagged
    // rows). Batching sources as columns is exactly how a 100 TB Brandes
    // sweep amortizes the edge scan across a source batch; at wider
    // batches the columns become the array form of the same plan.
    //
    // The forward pass is a WALK-COUNT CASCADE, not layer-by-layer BFS
    // state: any walk of length dist(v) from a source is necessarily a
    // shortest path (each step changes distance by at most 1), so with
    // P_l(v) = per-source count of length-l walks — three chained
    // join+aggregate steps, fully declarative, no anti-joins and no
    // per-layer merges — σ(v) = P_{dist(v)}(v) and dist(v) is the first
    // l with P_l(v) > 0. The three P relations aggregate on the same
    // key, so their assembly joins are co-partitioned, and the whole
    // forward pass is ONE checkpointed job; the hop-3 σ the backward
    // fold divides by is already IN the state — no successor-side
    // aggregate pass remains. (Measured at sf0.1: 20k nodes / 2.4M
    // directed edges / 38k hop-2 and 41k hop-3 (src, node) pairs.)
    "graph_betweenness_khop" -> ((s, d) => {
      val S = 0 until 4
      val srcIds = Seq(1L, 2L, 3L, 4L)
      val es = GraphOps.edges(s, d)
      val anyAt = (l: Int) => S.map(i => col(s"h$i") === l).reduce(_ || _)
      val p0 = GraphOps.adjacency(s, d).select(col("u"))
        .filter(col("u").isin(srcIds: _*))
        .select(col("u") +: S.map(i =>
          when(col("u") === srcIds(i), lit(1L)).otherwise(lit(0L)).as(s"p$i")): _*)
      // P_{l+1}(w) = Σ_{u ∈ N(w)} P_l(u): one edge-cache probe + one
      // keyed aggregate per length; the probe side is node-sized and
      // AQE picks broadcast from its runtime size
      def walkStep(p: DataFrame): DataFrame =
        es.join(broadcast(p), "u")
          .select(col("v").as("u") +: S.map(i => col(s"p$i")): _*)
          .groupBy("u")
          .agg(sum(col("p0")).as("p0"),
            S.tail.map(i => sum(col(s"p$i")).as(s"p$i")): _*)
      val walks1 = walkStep(p0)
      val walks2 = walkStep(walks1)
      val walks3 = walkStep(walks2)
      // dist = first length with a positive walk count (source pinned to
      // 0); σ = the walk count at that length. Assembled as ONE
      // union+aggregate — min(struct(length, count)) picks both at once —
      // instead of chained full-outer joins: one shuffle of ≤4·|V| rows
      // and one AQE stage where the join chain would plan and sort three
      val state = Seq(p0 -> 0, walks1 -> 1, walks2 -> 2, walks3 -> 3)
        .map { case (p, l) => p.select(col("u") +: S.map(i =>
          when(col(s"p$i") > 0L, struct(lit(l).as("l"), col(s"p$i").as("p")))
            .as(s"m$i")): _*) }
        .reduce(_ unionByName _)
        .groupBy("u")
        .agg(min(col("m0")).as("m0"),
          S.tail.map(i => min(col(s"m$i")).as(s"m$i")): _*)
        .select(col("u") +: S.flatMap { i =>
          val m = col(s"m$i")
          Seq(coalesce(m.getField("l"), lit(-1)).as(s"h$i"),
            when(m.getField("l") === 0, lit(1L))
              .otherwise(coalesce(m.getField("p"), lit(0L))).as(s"s$i"))
        }: _*)
        .localCheckpoint() // read by every backward-fold relation
      // layer-2 fold: δ₂(u) = Σ over hop-3 successors w of ⌊σu·10⁶/σw⌋.
      // sig3 (hop-3 claims) is node-sized straight out of the state —
      // AQE broadcasts it into the single edge-pass fold, and the
      // grouping key u needs no |E|-row pre-aggregation anywhere.
      //
      // Every σ·(10⁶+δ) product below carries the loud per-row
      // sigmaGuard (see its doc above) — a dense graph fails the job
      // with a named message instead of wrapping int64.
      val sig3 = state.filter(anyAt(3))
        .select(col("u").as("w") +: S.map(i =>
          when(col(s"h$i") === 3, col(s"s$i")).otherwise(lit(0L)).as(s"sw$i")): _*)
      val d2Aggs = S.map(i => sum(when(col(s"h$i") === 2 && col(s"sw$i") > 0L,
          expr(s"(s$i * 1000000) div sw$i") +
            sigmaGuard(col(s"s$i").cast("double") * lit(1e6)))
        .otherwise(lit(0L))).as(s"d$i"))
      val delta2 = es.join(broadcast(state.filter(anyAt(2))), "u")
        .withColumnRenamed("v", "w")
        .join(broadcast(sig3), "w")
        .groupBy("u")
        .agg(d2Aggs.head, d2Aggs.tail: _*)
        .localCheckpoint() // read twice: the layer-1 join and the output union
      // layer-1 fold off the tiny hop-1 frontier (~|N(sources)| rows):
      // successors are hop-2 nodes carrying their δ₂
      val hop2d = state.filter(anyAt(2))
        .select(col("u").as("w") +: S.flatMap(i =>
          Seq(col(s"h$i").as(s"hw$i"), col(s"s$i").as(s"sw$i"))): _*)
        .join(delta2.select(col("u").as("w") +:
          S.map(i => col(s"d$i").as(s"dw$i")): _*), Seq("w"), "left")
      val d1Aggs = S.map(i => sum(when(col(s"h$i") === 1 && col(s"hw$i") === 2,
          expr(s"(s$i * (1000000 + coalesce(dw$i, 0))) div sw$i") +
            sigmaGuard(col(s"s$i").cast("double") *
              (lit(1e6) + coalesce(col(s"dw$i"), lit(0L)).cast("double"))))
        .otherwise(lit(0L))).as(s"d$i"))
      val delta1 = es
        .join(broadcast(state.filter(anyAt(1))), "u")
        .withColumnRenamed("v", "w")
        .join(hop2d, "w")
        .groupBy("u")
        .agg(d1Aggs.head, d1Aggs.tail: _*)
      delta2.unionByName(delta1)
        .groupBy(col("u").as("part"))
        .agg(S.map(i => sum(col(s"d$i"))).reduce(_ + _).as("bc_q"))
        .orderBy(col("bc_q").desc, col("part")).limit(20)
        .orderBy(col("bc_q").desc, col("part"))
    }),

    // Local clustering coefficient (top-30 by cc, ties by part): per
    // node cc = 2·tri(p) / (deg·(deg−1)) in ppm — how close the
    // neighborhood is to a clique — off the SAME shared common-neighbor
    // relation as triangle counting (Σ cn over a node's edges = 2·tri).
    "graph_clustering_coeff" -> ((s, d) => {
      val cn = GraphOps.commonNeighbors(s, d)
      val deg = GraphOps.adjacency(s, d).select(col("u"), col("deg"))
      val tri = cn.select(explode(array(col("u"), col("v"))).as("u"), col("cn"))
        .groupBy("u").agg((sum("cn") / 2).cast("long").as("tri"))
      deg.join(tri, Seq("u"), "left_outer")
        .select(col("u").as("part"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .filter(col("deg") >= 2)
        .withColumn("cc_ppm",
          expr("(tri * 2 * 1000000) div (deg * (deg - 1))"))
        .orderBy(col("cc_ppm").desc, col("part")).limit(30)
    }),

    // Newman modularity per label-propagation community: with M = the
    // directed edge count and per community the internal directed edge
    // count i_c and degree sum d_c, the contribution is
    // i_c/M − (d_c/M)² — all counts exact integers, one floor at the
    // end (identical expression tree in both engines).
    "graph_modularity" -> ((s, d) => {
      val es = GraphOps.edges(s, d)
      val lab = GraphOps.labelProp2(s, d).localCheckpoint() // joined twice
      val el = es.join(lab.hint("shuffle_hash"), "u")
        .withColumnRenamed("lab", "lu")
        .join(lab.select(col("u").as("v"), col("lab").as("lv"))
          .hint("shuffle_hash"), "v")
        .select("lu", "lv")
      val m = el.agg(count(lit(1)).as("m2"))
      el.groupBy(col("lu").as("lab"))
        .agg(count(lit(1)).as("d_c"),
          sum(when(col("lu") === col("lv"), 1L).otherwise(0L)).as("i_c"))
        .crossJoin(broadcast(m))
        .withColumn("q_c", floor((col("i_c").cast("double") / col("m2") -
          (col("d_c").cast("double") / col("m2")) *
            (col("d_c").cast("double") / col("m2"))) * lit(1000000.0))
          .cast("long"))
        .select("lab", "d_c", "i_c", "q_c")
        .orderBy("lab")
    })
  )

  def oracles: Map[String, String] = Map(
    "vec_hamming_topk" -> {
      val qdiff = "(CAST(floor(CAST(embedding[i] AS DOUBLE) * 100000) AS BIGINT) - " +
        "CAST(floor(CAST(qe[i] AS DOUBLE) * 100000) AS BIGINT))"
      s"""WITH d AS (SELECT vec_id, embedding FROM embeddings),
        |w AS (SELECT vec_id, embedding,
        |    CAST(list_sum(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN embedding[i] >= 0
        |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END))
        |      AS BIGINT) AS w1,
        |    CAST(list_sum(list_transform(generate_series(33, 64),
        |      i -> CASE WHEN embedding[i] >= 0
        |        THEN CAST(1 AS BIGINT) << (i - 33) ELSE CAST(0 AS BIGINT) END))
        |      AS BIGINT) AS w2
        |  FROM d),
        |q AS (SELECT vec_id AS qid, embedding AS qe, w1 AS q1, w2 AS q2
        |  FROM w WHERE vec_id < 5),
        |h AS (SELECT q.qid, x.vec_id,
        |    CAST(bit_count(xor(x.w1, q.q1)) + bit_count(xor(x.w2, q.q2))
        |      AS BIGINT) AS hd,
        |    x.embedding, q.qe
        |  FROM w x JOIN q ON x.vec_id <> q.qid),
        |sh AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY hd, vec_id) AS rk1 FROM h),
        |rr AS (SELECT qid, vec_id, hd,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> $qdiff * $qdiff)) AS BIGINT) AS dist
        |  FROM sh WHERE rk1 <= 20),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY dist, vec_id) AS rk FROM rr)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, hd, dist
        |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
    },

    "graph_bfs_layers" -> {
      val hops = (1 to 3).map { h =>
        val (pv, pf) = (s"v${h - 1}", s"f${h - 1}")
        s"""x$h AS (SELECT DISTINCT f.src, e.v AS u
           |  FROM $pf f JOIN e ON f.u = e.u),
           |f$h AS (SELECT x.src, x.u FROM x$h x LEFT JOIN $pv p
           |    ON x.src = p.src AND x.u = p.u WHERE p.u IS NULL),
           |v$h AS (SELECT src, u FROM $pv UNION
           |        SELECT src, u FROM f$h)""".stripMargin
      }.mkString(",\n")
      val rows = (0 to 3).map { h =>
        s"""SELECT src, CAST($h AS BIGINT) AS hop, count(*) AS n_nodes
           |FROM f$h GROUP BY src""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${GraphOps.edgesSql},
        |f0 AS (SELECT DISTINCT u AS src, u FROM e WHERE u IN (1, 2, 3)),
        |v0 AS (SELECT src, u FROM f0),
        |$hops
        |$rows
        |ORDER BY src, hop""".stripMargin
    },

    "graph_random_walk_counts" -> {
      def step(prev: String, next: String, t: Int): String = {
        val hv = graft.api.Sampling.hexDecodeSql(
          s"md5(CAST(src AS VARCHAR) || ':' || CAST(w AS VARCHAR) || ':' || " +
            s"'$t' || ':' || CAST(cur AS VARCHAR))")
        s"""$next AS MATERIALIZED (SELECT src, w,
           |    vs[CAST(($hv) % deg AS INT) + 1] AS cur
           |  FROM $prev JOIN adj ON adj.u = $prev.cur)""".stripMargin
      }
      s"""WITH ${GraphOps.edgesSql},
        |adj AS MATERIALIZED (SELECT u, list(v ORDER BY v) AS vs,
        |    CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u),
        |s0 AS (SELECT t.u AS src, g.w, t.u AS cur
        |  FROM (SELECT DISTINCT u FROM e WHERE u IN (1, 2, 3, 4)) t,
        |       unnest(generate_series(0, 15)) g(w)),
        |${step("s0", "s1", 1)},
        |${step("s1", "s2", 2)},
        |${step("s2", "s3", 3)}
        |SELECT node, count(*) AS visits FROM (
        |  SELECT cur AS node FROM s1
        |  UNION ALL SELECT cur FROM s2
        |  UNION ALL SELECT cur FROM s3) v
        |GROUP BY node ORDER BY visits DESC, node LIMIT 30""".stripMargin
    },

    "graph_mst_boruvka_step" -> {
      val hv = graft.api.Sampling.hexDecodeSql(
        "md5(CAST(least(u, v) AS VARCHAR) || ':' || CAST(greatest(u, v) AS VARCHAR))")
      s"""WITH RECURSIVE ${GraphOps.edgesSql},
        |wts AS MATERIALIZED (SELECT u, v, $hv AS w FROM e),
        |mn AS (SELECT u, v, w FROM (
        |    SELECT *, row_number() OVER (PARTITION BY u ORDER BY w, v) AS rk
        |    FROM wts) WHERE rk = 1),
        |sel AS MATERIALIZED (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b, w
        |  FROM mn),
        |eb AS (SELECT a AS src, b AS dst FROM sel
        |  UNION ALL SELECT b, a FROM sel),
        |r(node, lbl) AS (
        |  SELECT DISTINCT src, src FROM eb
        |  UNION
        |  SELECT e2.dst, r.lbl FROM r JOIN eb e2 ON r.node = e2.src),
        |ccm AS (SELECT node, min(lbl) AS rep FROM r GROUP BY node),
        |sizes AS (SELECT rep, count(*) AS n_nodes FROM ccm GROUP BY rep),
        |ea AS (SELECT ccm.rep, count(*) AS n_edges,
        |    CAST(sum(sel.w) AS BIGINT) AS sum_w
        |  FROM sel JOIN ccm ON sel.a = ccm.node GROUP BY ccm.rep)
        |SELECT s.rep, s.n_nodes, ea.n_edges, ea.sum_w
        |FROM sizes s JOIN ea USING (rep) ORDER BY rep""".stripMargin
    },

    "graph_betweenness_khop" ->
      s"""WITH ${GraphOps.edgesSql},
        |l0 AS MATERIALIZED (SELECT DISTINCT u AS src, u AS v,
        |    CAST(1 AS BIGINT) AS sigma FROM e WHERE u IN (1, 2, 3, 4)),
        |f1 AS MATERIALIZED (SELECT l0.src, e.v, CAST(sum(l0.sigma) AS BIGINT) AS sigma
        |  FROM l0 JOIN e ON e.u = l0.v
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 x WHERE x.src = l0.src AND x.v = e.v)
        |  GROUP BY l0.src, e.v),
        |f2 AS MATERIALIZED (SELECT f1.src, e.v, CAST(sum(f1.sigma) AS BIGINT) AS sigma
        |  FROM f1 JOIN e ON e.u = f1.v
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 x WHERE x.src = f1.src AND x.v = e.v)
        |    AND NOT EXISTS (SELECT 1 FROM f1 y WHERE y.src = f1.src AND y.v = e.v)
        |  GROUP BY f1.src, e.v),
        |f3 AS MATERIALIZED (SELECT f2.src, e.v, CAST(sum(f2.sigma) AS BIGINT) AS sigma
        |  FROM f2 JOIN e ON e.u = f2.v
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 x WHERE x.src = f2.src AND x.v = e.v)
        |    AND NOT EXISTS (SELECT 1 FROM f1 y WHERE y.src = f2.src AND y.v = e.v)
        |    AND NOT EXISTS (SELECT 1 FROM f2 z WHERE z.src = f2.src AND z.v = e.v)
        |  GROUP BY f2.src, e.v),
        |d2 AS MATERIALIZED (SELECT f2.src, f2.v,
        |    CAST(sum((f2.sigma * 1000000) // f3.sigma) AS BIGINT) AS dq
        |  FROM f2 JOIN e ON e.u = f2.v
        |  JOIN f3 ON f3.src = f2.src AND f3.v = e.v
        |  GROUP BY f2.src, f2.v),
        |d1 AS (SELECT f1.src, f1.v,
        |    CAST(sum((f1.sigma * (1000000 + coalesce(d2.dq, 0))) // f2.sigma)
        |      AS BIGINT) AS dq
        |  FROM f1 JOIN e ON e.u = f1.v
        |  JOIN f2 ON f2.src = f1.src AND f2.v = e.v
        |  LEFT JOIN d2 ON d2.src = f2.src AND d2.v = f2.v
        |  GROUP BY f1.src, f1.v),
        |b AS (SELECT v, CAST(sum(dq) AS BIGINT) AS bc_q FROM
        |  (SELECT v, dq FROM d2 UNION ALL SELECT v, dq FROM d1) t GROUP BY v)
        |SELECT v AS part, bc_q FROM b ORDER BY bc_q DESC, part LIMIT 20""".stripMargin,

    "graph_clustering_coeff" ->
      s"""WITH ${GraphOps.edgesSql},
        |${GraphOps.triCornersSql},
        |pn AS (SELECT part, count(*) AS tri FROM p GROUP BY part),
        |dg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
        |c AS (SELECT dg.u AS part, dg.deg,
        |    CAST(coalesce(pn.tri, 0) AS BIGINT) AS tri
        |  FROM dg LEFT JOIN pn ON dg.u = pn.part
        |  WHERE dg.deg >= 2),
        |r AS (SELECT part, deg, tri,
        |    (tri * 2 * 1000000) // (deg * (deg - 1)) AS cc_ppm FROM c)
        |SELECT part, deg, tri, CAST(cc_ppm AS BIGINT) AS cc_ppm
        |FROM r ORDER BY cc_ppm DESC, part LIMIT 30""".stripMargin,

    "graph_modularity" ->
      s"""WITH ${GraphOps.edgesSql},
        |${GraphOps.labelProp2Sql},
        |el AS (SELECT a.lab AS lu, b.lab AS lv FROM e
        |  JOIN l2 a ON e.u = a.u JOIN l2 b ON e.v = b.u),
        |m AS (SELECT count(*) AS m2 FROM el),
        |c AS (SELECT lu AS lab, count(*) AS d_c,
        |    CAST(sum(CASE WHEN lu = lv THEN 1 ELSE 0 END) AS BIGINT) AS i_c
        |  FROM el GROUP BY 1)
        |SELECT lab, d_c, i_c,
        |  CAST(floor((CAST(i_c AS DOUBLE) / m2 - (CAST(d_c AS DOUBLE) / m2) *
        |    (CAST(d_c AS DOUBLE) / m2)) * 1000000.0) AS BIGINT) AS q_c
        |FROM c, m ORDER BY lab""".stripMargin
  )
}
