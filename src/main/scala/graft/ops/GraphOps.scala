package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.api.QueryHygiene
import graft.io.Tables
import graft.catalyst.Kernels

/** §2.18 graph analytics over the co-purchase graph: parts are nodes, an
  * undirected edge connects two parts that appear in the same order — the
  * item-item graph every recommender derives from a fact table. One
  * PageRank iteration, the loop to convergence, and the degree
  * distribution, all oracle-checked: per-node contributions are
  * floor-quantized to integer units BEFORE the neighbor sum, so the
  * scores are integer-exact and merge-order independent (the same
  * determinism design as lm_score_bigram).
  *
  * Scale shapes: pair generation is ORDER-LOCAL (bounded by items per
  * order, ~7 here — never a global self-join); the whole edge build is
  * exactly TWO shuffles (group items by order, then dedup pairs) and is
  * materialized ONCE per (session, dataset) — every graph query joins
  * against the same persisted edge relation, the way a 100 TB deployment
  * keeps its edge list as a maintained table instead of re-deriving it
  * from the fact table per query. PageRank iterations reuse that
  * relation: each step is one key shuffle (join on u) plus one
  * aggregation shuffle (group by v), the canonical message-passing shape.
  */
object GraphOps {

  /** The graph's ONE materialized relation: per-node sorted adjacency
    * (u, vs = sorted neighbor array, deg), hash-partitioned on u, a
    * [[QueryHygiene.sharedRelation]] per (session, raw dataset
    * path) — the key is the unsanitized path, so two datasets can never
    * collide (the Layout materialize() lesson). Everything else DERIVES
    * from it shuffle-free: the directed edge list is a
    * partition-preserving explode, degrees are `size(vs)`, and the
    * common-neighbor kernel broadcasts it. Caching adjacency instead of
    * the exploded edge list is the same compressed-sparse-row choice
    * every distributed graph engine makes: |V| rows carrying arrays
    * instead of 2|E| long pairs, and the per-iteration scans re-explode
    * from ~|V| cached rows. ~25 MB here; MEMORY_AND_DISK spills rather
    * than recomputing if it ever isn't.
    *
    * Build: group items by order (shuffle 1), generate both-direction
    * pairs inside each order's set (~items² per order — local,
    * codegen'd, never a join), then ONE u-keyed collect_set aggregation
    * (shuffle 2) that simultaneously dedups pairs (map-side partial
    * combine), leaves the relation hash-partitioned on u for every
    * consumer, and stores the graph in adjacency form. The former
    * edge-list pipeline paid two more full |E|-row shuffles (global
    * `distinct` + a pinning `repartition`).
    *
    * The shared relation's `localCheckpoint()` TRUNCATES the 2-shuffle
    * lineage, so when the unrolled 4-deep PageRank chain (or any graph
    * query under memory pressure) loses a block it re-reads the spilled
    * partition from disk instead of re-deriving the whole edge build
    * inside a deep iteration plan — the eviction→recompute amplification
    * that made the graph family 10× slower on a loaded box. */
  private[graft] def adjacency(s: SparkSession, d: String): DataFrame =
    QueryHygiene.sharedRelation(s, "graph_adjacency", d) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy("ok").agg(collect_set(col("pk")).as("pks"))
        .select(explode(col("pks")).as("u"), col("pks"))
        .select(col("u"), explode(col("pks")).as("v"))
        .where(col("u") =!= col("v"))
        .groupBy("u").agg(sort_array(collect_set(col("v"))).as("vs"))
        .select(col("u"), col("vs"), size(col("vs")).cast("long").as("deg"))
    }

  /** Directed edge relation (each undirected edge in both directions),
    * derived from the adjacency cache by a partition-preserving explode:
    * consumers still see HashPartitioning(u), so u-keyed joins and
    * aggregates stay exchange-free. */
  private[graft] def edges(s: SparkSession, d: String): DataFrame =
    adjacency(s, d).select(col("u"), explode(col("vs")).as("v"))

  /** One integer-exact PageRank step: given scores r(u) (1e6-scaled),
    * each node sends floor(r/deg) units to every neighbor and the new
    * score is 150000 + 85% of the received sum — pure integer arithmetic,
    * so any engine reproduces it bit-for-bit. */
  private def step(es: DataFrame, deg: DataFrame, r: DataFrame): DataFrame = {
    val contrib = r.join(deg, "u").select(col("u"), expr("r div deg").as("c"))
    // shuffle-hash build on the node-sized contrib side: the u-partitioned
    // edge relation joins exchange-free AND sort-free (SMJ would re-sort
    // the 2|E|-row side every iteration)
    es.join(contrib.hint("shuffle_hash"), "u")
      .groupBy(col("v").as("u"))
      .agg(sum("c").as("sc"))
      .select(col("u"), (lit(150000L) + expr("(sc * 85) div 100")).as("r"))
  }

  private def degrees(es: DataFrame): DataFrame =
    es.groupBy("u").agg(count(lit(1)).as("deg"))

  /** Fixed-iteration PageRank as a single declarative plan (the
    * oracle-checkable form: a deterministic unrolled chain DuckDB
    * reproduces with chained CTEs). Every node has in-neighbors here —
    * the edge relation is symmetric — so the inner join drops nobody.
    * `deg` is the |V|-row (u, deg) table — from the adjacency cache it
    * is a free projection; the es-only overload aggregates it. */
  private[graft] def pagerankFixed(es: DataFrame, deg: DataFrame,
                                   iters: Int): DataFrame = {
    var r = deg.select(col("u"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) r = step(es, deg, r)
    r
  }

  private[graft] def pagerankFixed(es: DataFrame, iters: Int): DataFrame =
    pagerankFixed(es, degrees(es).localCheckpoint(), iters)

  /** The loop-to-convergence driver: iterate until the largest per-node
    * score change is ≤ tolC integer units (or maxIter). Each iteration
    * localCheckpoints the score table — iterative algorithms MUST
    * truncate lineage or the plan (and its recovery cost) grows without
    * bound — and the delta check is one small all-integer aggregate.
    * Returns the converged scores and the number of iterations run.
    * Deterministic for fixed input data (integer arithmetic throughout),
    * but the iteration count depends on the data, so the ORACLE-checked
    * query uses [[pagerankFixed]]; this driver is exercised in ScalaTest
    * against it. */
  def pagerankConverged(es: DataFrame, maxIter: Int, tolC: Long): (DataFrame, Int) = {
    val deg = degrees(es)
    var r = deg.select(col("u"), lit(1000000L).as("r")).localCheckpoint()
    var it = 0
    var delta = Long.MaxValue
    while (it < maxIter && delta > tolC) {
      val next = step(es, deg, r).localCheckpoint()
      delta = next.as("n").join(r.as("p"), "u")
        .select(max(abs(col("n.r") - col("p.r"))).as("d"))
        .head().getLong(0)
      r = next
      it += 1
    }
    (r, it)
  }

  /** Iteration count for the oracle-checked convergence query: at 85%
    * damping the geometric decay makes 4 steps span the interesting
    * range, and the unrolled DuckDB oracle stays readable. */
  private[graft] val ConvIters = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // One PageRank iteration from the uniform start (r = 1): each node
    // contributes floor(1e6 / deg) integer units to every neighbor;
    // pr = 0.15 + 0.85·Σ in pure integer arithmetic
    // (150000 + (s·85) div 100). Top-30 parts by the integer score.
    "graph_pagerank_step" -> ((s, d) => {
      val es = edges(s, d)
      val contrib = adjacency(s, d)
        .select(col("u"), expr("1000000 div deg").as("c"))
      es.join(contrib, "u")
        .groupBy(col("v").as("part"))
        .agg(sum("c").as("sc"), count(lit(1)).as("n_nbr"))
        .select(col("part"), col("n_nbr"),
          (lit(150000L) + expr("(sc * 85) div 100")).as("pr_c"))
        .orderBy(col("pr_c").desc, col("part")).limit(30)
    }),

    // PageRank looped to (near-)convergence: ConvIters integer-exact
    // steps over the shared edge relation, top-30 nodes by final score.
    // The early-exit delta-check driver is pagerankConverged (ScalaTest
    // proves it agrees with this plan at its terminating count); the
    // oracle needs the deterministic fixed-count unroll.
    "graph_pagerank_conv" -> ((s, d) =>
      pagerankFixed(edges(s, d), adjacency(s, d).select(col("u"), col("deg")),
          ConvIters)
        .select(col("u").as("part"), col("r").as("pr_c"))
        .orderBy(col("pr_c").desc, col("part")).limit(30)),

    // Degree distribution of the co-purchase graph — the first thing a
    // graph workload reports, and the skew signal that decides whether
    // the neighbor shuffle needs salting.
    "graph_degree_stats" -> ((s, d) => {
      adjacency(s, d)
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    }),

    // Core decomposition by h-index iteration (Lü et al.): c₀ = degree;
    // each round replaces every node's value with the H-INDEX of its
    // neighbors' values (the largest h with ≥ h neighbors valued ≥ h) —
    // monotonically decreasing and converging to exact coreness, here
    // fixed at 4 rounds (operator semantics; the fixture converges).
    // Versus the k-core peel this needs NO sequential peel rounds per k.
    // Each round is ONE exchange-free aggregate: the broadcast value
    // join preserves the edge cache's HashPartitioning(u), so
    // collect_list(u) needs no shuffle AND no |E|-row sort (the window
    // variants — row_number over the join, or a cumulative count over a
    // per-(u, value) histogram — both re-sorted millions of rows per
    // round and measured 1.5-2x slower). The h-index itself is per-row
    // codegen'd array math over the ≤deg-sized neighbor-value array
    // (sorted asc, h = max_i min(v_i, n-i+1)) — the same deg-bounded
    // array shape the adjacency cache already stores, so a 100 TB hub
    // bounds it exactly like the adjacency build. The 4 rounds chain as
    // ONE declarative plan off the checkpointed adjacency (bounded
    // 4-deep lineage): per-round localCheckpoints were measured at
    // +1.6 s warm / +4.5 s first-run in materialization jobs and
    // broadcast re-collects. All-integer, so any engine reproduces it.
    "graph_coreness_hindex" -> ((s, d) => {
      val es = edges(s, d)
      var c = adjacency(s, d).select(col("u"), col("deg").cast("long").as("cv"))
      for (_ <- 1 to 4) {
        c = es.join(c.select(col("u").as("v"), col("cv")), "v")
          .groupBy("u").agg(collect_list(col("cv")).as("nv"))
          .select(col("u"), expr(
            "array_max(zip_with(array_sort(nv), sequence(size(nv), 1, -1)," +
              " (v, k) -> least(v, CAST(k AS BIGINT))))").as("cv"))
      }
      c.groupBy(col("cv").as("coreness")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("coreness")
    }),

    // Triangle participation per node (top-30) + the global triangle
    // count carried alongside, both derived from the shared per-edge
    // common-neighbor relation: Σ_edge cn = 3·T (each triangle has 3
    // edges) and Σ_{edges at p} cn = 2·tri(p) (each triangle at p has 2
    // edges there) — both divisions exact. Nodes with zero triangles are
    // filtered, matching the oracle's wedge-enumeration form.
    "graph_triangle_count" -> ((s, d) =>
      triangleFrom(commonNeighbors(s, d))),

    // The SAME triangle derivation over the forced-shuffle / built-in-
    // kernel common-neighbor twin (commonNeighborsShuffled) — the
    // physical shape once |V| outgrows the adjacency broadcast budget,
    // AND an independent check of the native sorted_intersect_count
    // kernel against Spark's array_intersect. Verification-only; at sf1
    // this twin is the key's direct differential evidence (the wedge-
    // enumeration DuckDB oracle is quadratic there).
    "graph_triangle_count_shuffle" -> ((s, d) =>
      triangleFrom(commonNeighborsShuffled(s, d))),

    // Item-item neighborhood similarity, the co-occurrence recommender
    // score: for every co-purchased pair with at least one common
    // neighbor, integer-scaled neighbor Jaccard
    // cn·10⁴ div (deg_u + deg_v − cn). Top-30 by (jac_c, u, v) — the
    // unique edge key makes the order total.
    "graph_jaccard_edges" -> ((s, d) =>
      jaccardFrom(commonNeighbors(s, d))),

    // Forced-shuffle / built-in-kernel twin of graph_jaccard_edges —
    // same rationale as graph_triangle_count_shuffle, sharing its
    // commonNeighborsShuffled relation (built once per verify run).
    "graph_jaccard_edges_shuffle" -> ((s, d) =>
      jaccardFrom(commonNeighborsShuffled(s, d))),

    // k-core peeling (k = 100), four unrolled rounds: each round drops
    // nodes whose degree in the CURRENT induced subgraph is < k, then
    // reports (round, n_removed, n_alive). Four rounds span the
    // interesting cascade on this graph and keep the oracle a readable
    // chained-CTE unroll; the production form loops to fixpoint with an
    // integer n_removed = 0 check (same per-round plan). Each round is
    // one degree aggregation over the u-partitioned edge cache with the
    // alive set semi-joined on BOTH endpoints — alive is |V|-sized and
    // broadcasts here; at 100 TB it flips to two shuffled semi joins,
    // same shape.
    "graph_kcore" -> ((s, d) => kcorePeel(s, d, broadcastAlive = true)),

    // The SAME peel with the alive-set joins FORCED to shuffled hash
    // joins — the physical shape a 100M-node catalog takes once |V|
    // outgrows the broadcast budget. Verification-only under the
    // identical oracle (SparkEntry.verifyOnly): proves the at-scale
    // strategy is semantics-identical, the dedup_ngram_jaccard_shuffle
    // pattern.
    "graph_kcore_shuffle" -> ((s, d) => kcorePeel(s, d, broadcastAlive = false)),

    // Friend-of-a-friend recommendations for a bounded source panel
    // (part keys < 100): candidates are 2-hop neighbors that are NOT
    // already co-purchased, scored by common-neighbor count, top-3 per
    // source (ties to smallest candidate). The wedge volume is bounded
    // by |panel|·deg² — the panel is the contract (an unbounded FoF
    // sweep is the wedge blow-up the triangle rewrite avoids); both
    // joins run off the u-partitioned edge cache.
    "graph_cn_recommend" -> ((s, d) => {
      val es = edges(s, d)
      val wedges = es.filter(col("u") < 100)
        .select(col("u").as("src"), col("v").as("w"))
        .join(es.select(col("u").as("w"), col("v").as("c")), "w")
        .filter(col("c") =!= col("src"))
      val scored = wedges.groupBy("src", "c").agg(count(lit(1)).as("cn"))
        .join(es.select(col("u").as("src"), col("v").as("c")),
          Seq("src", "c"), "left_anti")
      val wTop = Window.partitionBy("src")
        .orderBy(col("cn").desc, col("c"))
      scored.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("src"), col("rk").cast("long").as("rk"),
          col("c").as("rec"), col("cn"))
        .orderBy("src", "rk")
    }),

    // Degree assortativity of the co-purchase graph: Pearson correlation
    // of endpoint degrees over all directed edges — do high-degree parts
    // co-sell with high-degree parts? Per-edge products are exact BIGINT
    // (degrees ≤ a few hundred); the MOMENT SUMS and the N·Σ cross
    // products run in DECIMAL(38,0) — N·s12 passed int64 at the sf1
    // sweep's 24M edges, and at 100 TB even the raw sums get borderline.
    // Only the final ratio is floating, canon100'd like every
    // correlation here; exact-integer decimals cast to the same double
    // in any engine (DuckDB computes the identical sums in HUGEINT).
    "graph_assortativity" -> ((s, d) => {
      val deg = adjacency(s, d).select(col("u"), col("deg"))
      val pairs = edges(s, d)
        .join(deg.hint("shuffle_hash"), "u")
        .select(col("v"), col("deg").as("d1"))
        .join(deg.select(col("u").as("v"), col("deg").as("d2"))
          .hint("shuffle_hash"), "v")
      pairs.agg(count(lit(1)).as("n_edges"),
          sum(col("d1").cast("decimal(38,0)")).as("s1"),
          sum(col("d2").cast("decimal(38,0)")).as("s2"),
          sum((col("d1") * col("d1")).cast("decimal(38,0)")).as("s11"),
          sum((col("d2") * col("d2")).cast("decimal(38,0)")).as("s22"),
          sum((col("d1") * col("d2")).cast("decimal(38,0)")).as("s12"))
        .withColumn("ne", col("n_edges").cast("decimal(38,0)"))
        .withColumn("num", col("ne") * col("s12") - col("s1") * col("s2"))
        .withColumn("da", col("ne") * col("s11") - col("s1") * col("s1"))
        .withColumn("db", col("ne") * col("s22") - col("s2") * col("s2"))
        .select(col("n_edges"),
          when(col("da") > 0 && col("db") > 0,
            floor(col("num").cast("double") /
              (sqrt(col("da").cast("double")) *
                sqrt(col("db").cast("double"))) * lit(100.0)).cast("long"))
            .as("assort_c"))
    }),

    // Label-propagation communities, two deterministic iterations: every
    // node starts as its own label; each round adopts the MODE of its
    // neighbors' labels (tie → smallest label, via a per-node rank over
    // the (node, label) count aggregate — total order, both engines).
    // Top-30 communities by size. Same shared u-partitioned edge cache;
    // each round is one join + two keyed aggregations — the scale shape
    // of every iterative label algorithm on Spark.
    "graph_label_prop" -> ((s, d) =>
      labelProp2(s, d).groupBy("lab").agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("lab")).limit(30))
  )

  /** Two deterministic label-propagation rounds over the shared edge
    * cache, returning the final (u, lab) assignment — the community
    * relation graph_label_prop reports sizes of and graph_modularity
    * (BitGraphOps) scores. */
  private[graft] def labelProp2(s: SparkSession, d: String): DataFrame = {
    val es = edges(s, d)
    var lab = adjacency(s, d).select(col("u"), col("u").as("lab"))
    for (_ <- 1 to 2) {
      // the edge relation is symmetric, so "labels of u's neighbors"
      // ≡ join each edge's U endpoint to its label and aggregate on V:
      // the join stays on u — exchange-free off the u-partitioned
      // cache (a join keyed on v would re-shuffle all |E| rows every
      // round); only the |V|-row label table moves
      val nb = es.join(lab.hint("shuffle_hash"), "u")
        .groupBy(col("v").as("u"), col("lab")).agg(count(lit(1)).as("c"))
      // mode with tie -> smallest label as ONE hash aggregate:
      // max(struct(c, -lab)) is (count desc, label asc) lexicographic —
      // a row_number window here would SORT the |E|-sized round-1
      // (u, label) relation; the agg is partial-combinable and never
      // sorts (labels are positive part keys, so -lab is safe)
      lab = nb.groupBy("u")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("u"), (-col("m.nl")).as("lab"))
    }
    lab
  }

  /** The k-core peel (k = 100), four unrolled rounds, shared by the
    * broadcast and forced-shuffle variants. Each round drops nodes whose
    * degree in the CURRENT induced subgraph is < k. The alive set is
    * |V|-sized: `broadcastAlive = true` ships it to both endpoint joins
    * (right at ~20k nodes); `false` forces two shuffled hash joins — the
    * same plan minus the broadcasts, which is what the peel becomes when
    * |V| outgrows the broadcast budget. Each round's alive set is
    * localCheckpointed so round r+1 (and both count aggregates) read the
    * materialized set instead of re-deriving rounds 1..r — without this
    * the unrolled lineage re-peels quadratically (measured 18 s vs ~2 s
    * at sf0.1). */
  private def kcorePeel(s: SparkSession, d: String,
                        broadcastAlive: Boolean): DataFrame = {
    val k = 100
    val es = edges(s, d)
    def side(df: DataFrame): DataFrame =
      if (broadcastAlive) broadcast(df) else df.hint("shuffle_hash")
    var alive = adjacency(s, d).select(col("u")).localCheckpoint()
    val rounds = (1 to 4).map { r =>
      val deg = es
        .join(side(alive), "u")
        .join(side(alive.select(col("u").as("v"))), "v")
        .groupBy("u").agg(count(lit(1)).as("deg"))
      val prevN = alive
      alive = deg.filter(col("deg") >= k).select("u").localCheckpoint()
      prevN.agg(count(lit(1)).as("n_prev"))
        .crossJoin(broadcast(alive.agg(count(lit(1)).as("n_alive"))))
        .select(lit(r.toLong).as("round"),
          (col("n_prev") - col("n_alive")).as("n_removed"),
          col("n_alive"))
    }
    rounds.reduce(_ unionByName _).orderBy("round")
  }

  /** Per-edge common-neighbor relation (u < v, one row per undirected
    * edge, with cn = |N(u) ∩ N(v)| and both degrees) — the node-iterator
    * triangle algorithm (GraphX's TriangleCount shape): per-node
    * adjacency sets intersected per edge. Built ONCE per (session,
    * dataset) and persisted, shared by the triangle and Jaccard queries
    * the way `edges` is shared by the PageRank family.
    *
    * Why not the wedge self-join: this graph's flat degree distribution
    * (max 222 vs mean ~120 at sf0.1) makes the wedge relation Σdeg²/4 ≈
    * 37M rows — measured 11.7 s/query through two shuffles, vs ~3 s
    * total here for |E| rows carrying ~120-element arrays. The
    * adjacency build aggregates exchange-FREE off the u-partitioned
    * edge cache, the u-side join is likewise exchange-free, and the one
    * real shuffle moves |E| rows keyed on v. At 100 TB the guard is
    * super-node adjacency width: cap or salt lists past ~√(2|E|)
    * (degree-split the node), the standard node-iterator skew fix. */
  private[graft] def commonNeighbors(s: SparkSession, d: String): DataFrame =
    QueryHygiene.sharedRelation(s, "graph_common_neighbors", d) {
      // the adjacency cache already stores each node's SORTED neighbor
      // array, so every edge's cn is a single-pass two-pointer merge
      // (native codegen'd kernel — no per-row hash set the way
      // array_intersect allocates one). Adjacency is NODE-sized (|V|
      // rows × mean-degree arrays, ~25 MB here) — broadcast it to both
      // probe sides so the |E|-row edge relation never shuffles its
      // neighbor arrays (the SMJ alternative moves |E|×degree longs
      // twice). At 100 TB, |V| outgrows the broadcast budget and this
      // flips to the shuffled two-sided join on (u, v) — same plan
      // minus the hints; the node-iterator shape and the per-edge
      // two-pointer kernel are unchanged.
      val adj = adjacency(s, d)
      edges(s, d).where(col("u") < col("v"))
        .join(broadcast(adj.select(col("u"), col("vs").as("nu"),
          col("deg").as("deg_u"))), "u")
        .join(broadcast(adj.select(col("u").as("v"), col("vs").as("nv"),
          col("deg").as("deg_v"))), "v")
        .select(col("u"), col("v"), col("deg_u"), col("deg_v"),
          Kernels.sortedIntersectCount(col("nu"), col("nv")).as("cn"))
    }

  /** Forced-shuffle twin of [[commonNeighbors]]: the identical node-
    * iterator relation through the at-scale physical plan — both
    * adjacency joins pinned to shuffled hash joins (the shape once |V|
    * outgrows the broadcast budget) — and with the per-edge intersect
    * computed by Spark's BUILT-IN `array_intersect` instead of the
    * native `sorted_intersect_count` codegen kernel, so twin equality
    * also validates the custom expression against an independent
    * implementation. Shared under its own name, never the primary's:
    * the triangle and Jaccard twins share one build per (session,
    * dataset). */
  private[graft] def commonNeighborsShuffled(s: SparkSession, d: String): DataFrame =
    QueryHygiene.sharedRelation(s, "graph_common_neighbors_shuffled", d) {
      val adj = adjacency(s, d)
      edges(s, d).where(col("u") < col("v"))
        .join(adj.select(col("u"), col("vs").as("nu"),
          col("deg").as("deg_u")).hint("shuffle_hash"), "u")
        .join(adj.select(col("u").as("v"), col("vs").as("nv"),
          col("deg").as("deg_v")).hint("shuffle_hash"), "v")
        .select(col("u"), col("v"), col("deg_u"), col("deg_v"),
          size(array_intersect(col("nu"), col("nv"))).cast("long").as("cn"))
    }

  /** Triangle participation (top-30) + global count from a per-edge
    * common-neighbor relation: Σ_edge cn = 3·T, Σ_{edges at p} cn =
    * 2·tri(p) — both divisions exact. Shared by the primary and its
    * forced-shuffle twin. */
  private def triangleFrom(cn: DataFrame): DataFrame = {
    val tot = cn.agg((sum("cn") / 3).cast("long").as("n_tri_total"))
    cn.select(explode(array(col("u"), col("v"))).as("part"), col("cn"))
      .groupBy("part").agg((sum("cn") / 2).cast("long").as("n_tri"))
      .filter(col("n_tri") > 0)
      .orderBy(col("n_tri").desc, col("part")).limit(30)
      .crossJoin(broadcast(tot))
      .orderBy(col("n_tri").desc, col("part"))
  }

  /** Integer-scaled neighbor Jaccard per co-purchased edge, top-30 —
    * shared by the primary and its forced-shuffle twin. */
  private def jaccardFrom(cn: DataFrame): DataFrame =
    cn.filter(col("cn") > 0)
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        expr("(cn * 10000) div (deg_u + deg_v - cn)").as("jac_c"))
      .orderBy(col("jac_c").desc, col("u"), col("v")).limit(30)

  // MATERIALIZED: DuckDB inlines plain CTEs per reference, and the
  // iterative oracles (PageRank steps, k-core rounds, label-prop) each
  // reference `e` several times — materializing the edge build once
  // keeps those oracles linear in the rounds instead of multiplicative.
  private[graft] val edgesSql =
    """lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |      FROM lineitem),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
      |       FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS MATERIALIZED (SELECT u, v FROM e0
      |      UNION ALL SELECT v AS u, u AS v FROM e0)""".stripMargin

  /** One unrolled oracle PageRank step: prev CTE -> next CTE. */
  private def stepSql(prev: String, next: String): String =
    s"""$next AS (SELECT e.v AS u,
       |  CAST(150000 + (sum($prev.r // dg.deg) * 85) // 100 AS BIGINT) AS r
       |  FROM e JOIN $prev ON e.u = $prev.u JOIN dg ON e.u = dg.u
       |  GROUP BY e.v)""".stripMargin

  def oracles: Map[String, String] = Map(
    "graph_pagerank_step" ->
      s"""WITH $edgesSql,
        |ct AS (SELECT u, 1000000 // count(*) AS c FROM e GROUP BY u)
        |SELECT e.v AS part, count(*) AS n_nbr,
        |  CAST(150000 + (sum(ct.c) * 85) // 100 AS BIGINT) AS pr_c
        |FROM e JOIN ct ON e.u = ct.u
        |GROUP BY e.v
        |ORDER BY pr_c DESC, part LIMIT 30""".stripMargin,

    "graph_pagerank_conv" -> {
      val steps = (1 to ConvIters)
        .map(i => stepSql(s"r${i - 1}", s"r$i")).mkString(",\n")
      s"""WITH $edgesSql,
        |dg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
        |r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS r FROM dg),
        |$steps
        |SELECT u AS part, r AS pr_c FROM r$ConvIters
        |ORDER BY pr_c DESC, part LIMIT 30""".stripMargin
    },

    "graph_degree_stats" ->
      s"""WITH $edgesSql,
        |dg AS (SELECT u, count(*) AS deg FROM e GROUP BY u)
        |SELECT deg, count(*) AS n_nodes FROM dg
        |GROUP BY deg ORDER BY deg""".stripMargin,

    "graph_coreness_hindex" -> {
      def round(prev: String, next: String): String =
        s"""$next AS MATERIALIZED (SELECT u, CAST(max(least(rn, cv)) AS BIGINT) AS cv
           |  FROM (SELECT e.u, p.cv,
           |      row_number() OVER (PARTITION BY e.u ORDER BY p.cv DESC) AS rn
           |    FROM e JOIN $prev p ON e.v = p.u) t
           |  GROUP BY u)""".stripMargin
      s"""WITH $edgesSql,
        |h0 AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS cv
        |  FROM e GROUP BY u),
        |${round("h0", "h1")},
        |${round("h1", "h2")},
        |${round("h2", "h3")},
        |${round("h3", "h4")}
        |SELECT cv AS coreness, count(*) AS n_nodes FROM h4
        |GROUP BY cv ORDER BY cv""".stripMargin
    },

    "graph_triangle_count" -> triangleSql,
    // forced-shuffle / built-in-kernel twin: identical semantics,
    // identical oracle — twin digest equality is the sf1 evidence
    "graph_triangle_count_shuffle" -> triangleSql,

    "graph_jaccard_edges" -> jaccardEdgesSql,
    "graph_jaccard_edges_shuffle" -> jaccardEdgesSql,

    "graph_kcore" -> kcoreSql,
    // forced-shuffle twin: identical semantics, identical oracle — the
    // DIFFERENTIAL claim is that the non-broadcast physical plan matches
    "graph_kcore_shuffle" -> kcoreSql,

    "graph_cn_recommend" ->
      s"""WITH $edgesSql,
        |wd AS (SELECT a.u AS src, b.v AS c FROM e a
        |  JOIN e b ON b.u = a.v
        |  WHERE a.u < 100 AND b.v <> a.u),
        |sc AS (SELECT src, c, count(*) AS cn FROM wd GROUP BY 1, 2),
        |nf AS (SELECT sc.* FROM sc LEFT JOIN e
        |    ON e.u = sc.src AND e.v = sc.c
        |  WHERE e.u IS NULL),
        |rnk AS (SELECT *, row_number() OVER (PARTITION BY src
        |    ORDER BY cn DESC, c) AS rk FROM nf)
        |SELECT src, CAST(rk AS BIGINT) AS rk, c AS rec, cn
        |FROM rnk WHERE rk <= 3 ORDER BY src, rk""".stripMargin)
    .++(oraclesTail)

  private lazy val kcoreSql: String = {
      // unrolled peel: dN = degrees of the subgraph induced by a(N-1).
      // Every aN is referenced three times downstream (next round's two
      // endpoint joins + the count rows) — DuckDB INLINES plain CTEs, so
      // without MATERIALIZED the peel re-evaluates multiplicatively
      // across rounds (the sf0.1 oracle went from >10 min to seconds).
      val rounds = (1 to 4).map { r =>
        val prev = if (r == 1) "a0" else s"a${r - 1}"
        s"""d$r AS MATERIALIZED (SELECT e.u, count(*) AS deg FROM e
           |  JOIN $prev x ON e.u = x.u JOIN $prev y ON e.v = y.u
           |  GROUP BY e.u),
           |a$r AS MATERIALIZED (SELECT u FROM d$r WHERE deg >= 100)"""
          .stripMargin
      }.mkString(",\n")
      val rows = (1 to 4).map { r =>
        val prev = if (r == 1) "a0" else s"a${r - 1}"
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT count(*) FROM $prev) - (SELECT count(*) FROM a$r)
           |    AS n_removed,
           |  (SELECT count(*) FROM a$r) AS n_alive""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $edgesSql,
        |a0 AS MATERIALIZED (SELECT DISTINCT u FROM e),
        |$rounds
        |$rows
        |ORDER BY round""".stripMargin
  }

  private lazy val oraclesTail: Map[String, String] = Map(
    "graph_assortativity" ->
      s"""WITH $edgesSql,
        |dg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
        |p AS (SELECT a.deg AS d1, b.deg AS d2
        |  FROM e JOIN dg a ON e.u = a.u JOIN dg b ON e.v = b.u),
        |m AS (SELECT count(*) AS n_edges,
        |    CAST(count(*) AS HUGEINT) AS ne,
        |    sum(d1) AS s1, sum(d2) AS s2,
        |    sum(d1*d1) AS s11, sum(d2*d2) AS s22, sum(d1*d2) AS s12
        |  FROM p)
        |SELECT n_edges,
        |  CASE WHEN ne*s11 - s1*s1 > 0 AND ne*s22 - s2*s2 > 0
        |    THEN CAST(floor(CAST(ne*s12 - s1*s2 AS DOUBLE) /
        |      (sqrt(CAST(ne*s11 - s1*s1 AS DOUBLE)) *
        |       sqrt(CAST(ne*s22 - s2*s2 AS DOUBLE))) * 100.0) AS BIGINT)
        |    ELSE NULL END AS assort_c
        |FROM m""".stripMargin,

    "graph_label_prop" ->
      s"""WITH $edgesSql,
        |$labelProp2Sql
        |SELECT lab, count(*) AS n_nodes FROM l2
        |GROUP BY lab ORDER BY n_nodes DESC, lab LIMIT 30""".stripMargin
  )

  /** Neighbor-list triangle corner credits (round 13). The old wedge
    * enumeration (e0 x e0 x e0 closure join) brute-forces ~1.2B wedge
    * rows at sf1 and blew the DuckDB sweep budget; the edge-iterator
    * form intersects the two oriented out-neighbor lists per EDGE —
    * each id-oriented triangle x<y<z is found exactly once at its base
    * edge (x,y), and corners x, y, and every z get one credit row each,
    * so `p(part)` is row-identical to the old 3-way UNION ALL over `t`.
    * Expects `e0` in scope; exposes `p(part)`.
    */
  private[graft] val triCornersSql: String =
    """nb AS (SELECT u, list(v) AS nvs FROM e0 GROUP BY u),
      |ed AS (SELECT a.u, a.v, list_intersect(na.nvs, nv.nvs) AS zs
      |       FROM e0 a JOIN nb na ON na.u = a.u JOIN nb nv ON nv.u = a.v),
      |p AS (SELECT unnest(list_concat(zs, list_concat(
      |         list_transform(zs, z -> u), list_transform(zs, z -> v)))) AS part
      |      FROM ed)""".stripMargin

  private lazy val triangleSql: String =
    s"""WITH $edgesSql,
      |$triCornersSql,
      |pn AS (SELECT part, count(*) AS n_tri FROM p GROUP BY part)
      |SELECT part, n_tri,
      |  CAST(sum(n_tri) OVER () // 3 AS BIGINT) AS n_tri_total
      |FROM pn ORDER BY n_tri DESC, part LIMIT 30""".stripMargin

  // Per-edge full-neighbor-list intersect (round 13) — same relation as
  // the old triangle-derived pair counting (every counted pair IS an
  // edge of >=1 triangle), without the wedge blow-up.
  private lazy val jaccardEdgesSql: String =
    s"""WITH $edgesSql,
      |nbf AS (SELECT u, list(v) AS ns FROM e GROUP BY u),
      |cn AS (SELECT a.u, a.v,
      |         CAST(len(list_intersect(fa.ns, fb.ns)) AS BIGINT) AS cn,
      |         CAST(len(fa.ns) AS BIGINT) AS deg_u,
      |         CAST(len(fb.ns) AS BIGINT) AS deg_v
      |       FROM e0 a JOIN nbf fa ON fa.u = a.u JOIN nbf fb ON fb.u = a.v)
      |SELECT u, v, cn, deg_u, deg_v,
      |  CAST((cn * 10000) // (deg_u + deg_v - cn) AS BIGINT) AS jac_c
      |FROM cn WHERE cn > 0
      |ORDER BY jac_c DESC, u, v LIMIT 30""".stripMargin

  /** Oracle CTE chain for the two label-propagation rounds (expects the
    * `e` edge relation in scope; exposes `l2` = final (u, lab)). */
  private[graft] val labelProp2Sql: String =
    """l0 AS (SELECT DISTINCT u, u AS lab FROM e),
      |n1 AS (SELECT e.u, l0.lab, count(*) AS c
      |       FROM e JOIN l0 ON e.v = l0.u GROUP BY 1, 2),
      |l1 AS (SELECT u, lab FROM (SELECT *, row_number() OVER
      |    (PARTITION BY u ORDER BY c DESC, lab) AS rn FROM n1) WHERE rn = 1),
      |n2 AS (SELECT e.u, l1.lab, count(*) AS c
      |       FROM e JOIN l1 ON e.v = l1.u GROUP BY 1, 2),
      |l2 AS (SELECT u, lab FROM (SELECT *, row_number() OVER
      |    (PARTITION BY u ORDER BY c DESC, lab) AS rn FROM n2) WHERE rn = 1)"""
      .stripMargin
}
