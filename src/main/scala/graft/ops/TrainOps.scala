package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.io.Tables.canon
import graft.catalyst.Kernels

/** §2.11 training-data curation operators: the stages that sit AROUND the
  * dedup/similarity core in a real pretraining pipeline — deterministic
  * sampling, text normalization, benchmark decontamination, duplicate
  * clustering, and corpus mix rebalancing. All oracle-checked; sampling
  * and fingerprints are md5-based so both engines compute identical
  * results.
  *
  * Scale shapes:
  *  - sampling is a map-only hash predicate (stable under reruns and
  *    partition moves — never `rand()`);
  *  - scrub is a pure per-row expression pipeline;
  *  - decontamination joins corpus shingles against a BROADCAST benchmark
  *    gram set (benchmarks are tiny by definition; at 100 TB the corpus
  *    side stays partition-local);
  *  - duplicate clustering is iterative min-label propagation over the
  *    near-dup pair graph, converging in O(component diameter) rounds —
  *    the driver loop only schedules; per-round work is a shuffled
  *    aggregate (swap in large-star/small-star for planet-scale graphs);
  *  - mix weights are one aggregate plus a bucket-count window.
  */
object TrainOps {

  private val stopwords = graft.api.Curation.Stopwords

  /** Session-shared CC labeling over the STRICT (J ≥ 0.7) 5-gram
    * near-dup pair graph — the relation the whole curation-report
    * family keys on. `dedup_cluster_cc`, `dedup_keep_best`,
    * `dedup_survivorship_report` and `corpus_health_report` all need
    * exactly `connectedComponents(dedup_ngram_jaccard pairs)`; before it
    * was shared, each re-derived the pair kernel + CC per query (~3 s × 4
    * at sf0.1, ~60-100 s × 4 at sf1). A
    * [[graft.api.QueryHygiene.sharedRelation]] like the graph adjacency,
    * billed as an explicit `_build_dedup_pairs` bench line: the pair
    * relation and the distributed CC's per-iteration checkpoints are
    * query-local scaffolding the sweep reclaims; only the final labels
    * are pinned. A deployment would keep this labeling as a maintained
    * table next to the corpus — it IS the dedup pass's primary artifact.
    * The `_dist` twins deliberately BYPASS it (forced prefix-path pairs +
    * forced distributed CC — they exist to be independent evidence).
    * Labels only cover nodes that appear in some pair; singleton docs
    * are absent, exactly as the per-query derivations left them. */
  private[graft] def strictDedupLabels(s: SparkSession, d: String): DataFrame =
    graft.api.QueryHygiene.sharedRelation(s, "dedup_strict_labels", d) {
      connectedComponents(Pipeline.queries("dedup_ngram_jaccard")(s, d)
        .select(col("d1"), col("d2")).localCheckpoint())
    }

  /** Connected components over an undirected edge list `(src, dst)`:
    * returns `(node, cluster_rep)` with the component's smallest node id
    * as representative. Hook + pointer-jumping compression — each round
    * takes the min label over neighbors (hook), then replaces every label
    * by its label's label (compress), so chains collapse in O(log
    * diameter) rounds rather than O(diameter); the 30-round cap therefore
    * covers any component with diameter up to ~2^30. Per-round work is
    * two shuffled joins + an aggregate — the driver loop only schedules
    * (at planet scale swap in large-star/small-star, same round shape).
    */
  def connectedComponents(edgesIn: DataFrame, driverLimit: Int = 1000000): DataFrame = {
    // normalize node ids to long so both physical paths accept (and
    // return) the same schema regardless of the caller's integer width
    val edges = edgesIn.toDF("src", "dst")
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    // Physical strategy pick, same philosophy as the dedup operators: a
    // near-dup PAIR graph is usually orders of magnitude smaller than the
    // corpus, and when it fits the driver (≤ driverLimit edges) a single
    // union-find pass beats scheduling log(diameter) distributed rounds.
    // Larger graphs take the hook+compress rounds below.
    val bounded = edges.limit(driverLimit + 1).collect()
    if (bounded.length <= driverLimit) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      // iterative find with path compression (a recursive form would
      // overflow the stack on a degenerate million-edge chain)
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      bounded.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val spark = edgesIn.sparkSession
      import spark.implicits._
      val out = bounded.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.toSeq
        .map(x => (x, find(x)))
      return out.toDF("node", "cluster_rep")
    }
    val edgesBi = edges.union(edges.select(col("dst"), col("src")))
      .toDF("src", "dst").localCheckpoint()
    var labels = edgesBi.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < 30) {
      // hook: min label over self + neighbors
      val nb = edgesBi
        .join(labels.select(col("node").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("node")).agg(min(col("lbl")).as("nlbl"))
      val hooked = labels
        .join(nb, Seq("node"), "left")
        .select(col("node"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // compress: lbl ← lbl(lbl) (pointer jumping)
      val lookup = hooked.select(col("node").as("plbl"), col("lbl").as("lbl2"))
      val next = hooked
        .join(lookup, col("lbl") === col("plbl"), "left")
        .select(col("node"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
        .localCheckpoint()
      converged = next.select(col("node"), col("lbl").as("lbl2"))
        .join(labels, "node")
        .filter(col("lbl") =!= col("lbl2")).isEmpty
      labels = next
      iter += 1
    }
    labels.select(col("node"), col("lbl").as("cluster_rep"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic stratified sample: md5(doc_id) first hex digit in
    // {0,1} ⇒ a stable 1/8 sample, reproducible across engines, reruns,
    // and repartitioning (rand()-based sampling is none of those).
    "sample_stratified" -> ((s, d) => {
      graft.api.Curation.sampleByHash(Tables.documents(s, d), col("doc_id"), Seq("0", "1"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // Normalization/scrub stage: drop stopword tokens, re-join on single
    // spaces, fingerprint the scrubbed text. Token-filter formulation (no
    // regex) keeps semantics engine-portable.
    "text_scrub_normalize" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val kept = filter(toks, t => !t.isin(stopwords: _*))
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(array_join(kept, " ")).as("scrub_fp"),
          (size(toks) - size(kept)).cast("long").as("n_removed"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: flag corpus docs sharing any 8-gram
    // shingle with a held-out benchmark set (doc_id % 100 = 0 stands in
    // for the benchmark), reporting how many benchmark docs each hits.
    "decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.api.Curation.decontaminate(
          docs.filter(col("doc_id") % 100 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 100 === 0), col("doc_id"), col("text"),
          n = 8)
        .orderBy("doc_id")
    }),

    // Duplicate clustering: connected components over the exact near-dup
    // pair graph (dedup_ngram_jaccard), labeling every member with the
    // smallest doc_id of its component — the keep-one-per-cluster step
    // that follows pair generation in a dedup pipeline. Served from the
    // session-shared strictDedupLabels cache (the whole curation-report
    // family keys on this one labeling).
    "dedup_cluster_cc" -> ((s, d) =>
      strictDedupLabels(s, d)
        .select(col("node").as("doc_id"), col("cluster_rep"))
        .orderBy("doc_id")),

    // Duplicate clustering with the driver union-find DISABLED
    // (driverLimit = 0): forces the distributed hook + pointer-jumping
    // rounds — the physical path a planet-scale pair graph takes — under
    // the same recursive-CTE oracle. Verification-only.
    "dedup_cluster_cc_dist" -> ((s, d) => {
      val pairs = Pipeline.queries("dedup_ngram_jaccard")(s, d)
        .select(col("d1"), col("d2")).localCheckpoint()
      connectedComponents(pairs, driverLimit = 0)
        .select(col("node").as("doc_id"), col("cluster_rep"))
        .orderBy("doc_id")
    }),

    // The full curation pipeline as ONE composed query — what an adopter
    // actually runs: stopword scrub → exact dedup on the scrubbed
    // fingerprint (keep smallest doc_id) → quality filter (≥ 20 tokens) →
    // near-dup clustering over 5-gram shingles (τ=0.7, adaptive
    // set-similarity join + connected components) keeping each cluster's
    // representative → deterministic 50% hash sample. Every stage is one
    // of the library's operators; the composition itself is oracle-checked
    // end to end.
    "curation_pipeline_e2e" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = split(col("text"), " ")
      val kept = filter(toks, t => !t.isin(stopwords: _*))
      val scrubbed = docs.select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        md5(array_join(kept, " ")).as("fp"), size(toks).cast("long").as("n_tok"))
      val exactKept = scrubbed
        .withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
      val quality = exactKept.filter(col("n_tok") >= 20).localCheckpoint()
      val docsG = quality.select(col("doc_id"), col("lang"), col("n_chars"),
        Kernels.ngramShingles(col("text"), lit(5)).as("gs"))
      val pairs = graft.api.Curation.nearDupPairs(docsG, col("doc_id"), col("gs"),
        col("lang"), col("n_chars"), tau = 0.7).select("d1", "d2")
      val dropped = connectedComponents(pairs)
        .filter(col("node") =!= col("cluster_rep"))
        .select(col("node").as("doc_id"))
      val deduped = quality.join(dropped, Seq("doc_id"), "left_anti")
      graft.api.Curation.sampleByHash(deduped, col("doc_id"), (0 to 7).map(_.toString))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // Corpus mix rebalancing: per (lang, length-bucket) counts and the
    // uniform-target importance weight tot/(nBuckets·n) a sampler would
    // apply to flatten the mix.
    "corpus_mix_weights" -> ((s, d) => {
      val buckets = Tables.documents(s, d)
        .groupBy(col("lang"), floor(col("n_chars") / 100).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n"))
      // bucket relation is |langs|×|bands| rows — a global window is fine
      val w = Window.partitionBy()
      buckets
        .withColumn("tot", sum(col("n")).over(w))
        .withColumn("nb", count(lit(1)).over(w))
        .select(col("lang"), col("len_bucket"), col("n"),
          canon(col("tot") * lit(1.0) / (col("nb") * col("n"))).as("weight_c"))
        .orderBy("lang", "len_bucket")
    })
  )

  def oracles: Map[String, String] = Map(
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin,

    "text_scrub_normalize" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(str_split(text, ' '),
        |    t -> t NOT IN ('a', 'the', 'and', 'of', 'to')), ' ')) AS scrub_fp,
        |  CAST(len(str_split(text, ' ')) - len(list_filter(str_split(text, ' '),
        |    t -> t NOT IN ('a', 'the', 'and', 'of', 'to'))) AS BIGINT) AS n_removed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "decontaminate" ->
      """WITH g AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(length(text) - 7, 1)),
        |      i -> substr(text, i, 8)))) AS g
        |  FROM documents),
        |bench AS (SELECT doc_id AS bdoc, g FROM g WHERE doc_id % 100 = 0),
        |corp AS (SELECT doc_id, g FROM g WHERE doc_id % 100 <> 0)
        |SELECT corp.doc_id, count(DISTINCT bdoc) AS n_bench_hits
        |FROM corp JOIN bench USING (g)
        |GROUP BY corp.doc_id ORDER BY doc_id""".stripMargin,

    // identical semantics ⇒ identical oracle; only the Spark-side
    // physical path (distributed hook+compress) differs
    "dedup_cluster_cc_dist" -> clusterCcSql,

    "dedup_cluster_cc" -> clusterCcSql,

    "curation_pipeline_e2e" ->
      s"""WITH RECURSIVE scrub AS (SELECT doc_id, lang, n_chars, text,
        |    md5(array_to_string(list_filter(str_split(text, ' '),
        |      t -> t NOT IN ('a', 'the', 'and', 'of', 'to')), ' ')) AS fp,
        |    len(str_split(text, ' ')) AS n_tok
        |  FROM documents),
        |exact AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM scrub) WHERE rn = 1),
        |quality AS (SELECT * FROM exact WHERE n_tok >= 20),
        |${graft.api.OracleSql.shingleJaccardPairs("quality")},
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |r(node, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM r JOIN edges e ON r.node = e.src),
        |clusters AS (SELECT node, min(lbl) AS rep FROM r GROUP BY node),
        |dropped AS (SELECT node AS doc_id FROM clusters WHERE node <> rep)
        |SELECT doc_id, lang FROM quality
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('0', '1', '2', '3', '4', '5', '6', '7')
        |ORDER BY doc_id""".stripMargin,

    "corpus_mix_weights" ->
      """WITH b AS (SELECT lang, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
        |    count(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT sum(n) AS tot, count(*) AS nb FROM b)
        |SELECT lang, len_bucket, n,
        |  CAST(floor((tot * 1.0 / (nb * n)) * 10000) AS BIGINT) AS weight_c
        |FROM b, t ORDER BY lang, len_bucket""".stripMargin
  )

  /** Min-label connected components over the shared bitset-verified
    * near-dup pair relation (graft.api.OracleSql — round-13 swap of the
    * brute-force list_intersect self-join that blew the sf1 sweep
    * budget; digest-equal at sf0.01/sf0.1). */
  private lazy val clusterCcSql: String =
    s"""WITH RECURSIVE ${graft.api.OracleSql.shingleJaccardPairs()},
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |          UNION ALL SELECT d2, d1 FROM pairs),
      |r(node, lbl) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.lbl FROM r JOIN edges e ON r.node = e.src)
      |SELECT node AS doc_id, min(lbl) AS cluster_rep
      |FROM r GROUP BY node ORDER BY doc_id""".stripMargin
}
