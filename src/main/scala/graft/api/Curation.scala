package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.catalyst.Kernels

/** User-facing training-data curation API: DataFrame-in/DataFrame-out,
  * column-parameterized — the library surface an adopter calls on their
  * OWN tables (the `graft.ops.*` query maps are the same operators bound
  * to the benchmark fixtures, and delegate here where the logic is
  * shared).
  */
object Curation {

  /** Stopword list shared by the scrub/quality operators (and inlined in
    * their DuckDB oracles — keep the two in sync). */
  val Stopwords: Seq[String] = Seq("a", "the", "and", "of", "to")

  /** Probe a single-string-column relation's distinct values: when the
    * dictionary fits `limit` entries, return the plan-literal map (token →
    * dense 1-based id) and the bitset width in 64-bit words — the
    * shuffle-free dictionary-encode used by the dense-bitset strategies.
    * The bounded `limit+1` collect is dim-table sized by construction.
    */
  private[graft] def denseDictionary(tokens: DataFrame,
                                     limit: Int = 4096): Option[(Column, Int)] = {
    val probe = tokens.distinct().limit(limit + 1).collect().map(_.getString(0))
    if (probe.length <= limit)
      Some((typedLit(probe.sorted.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap),
        (probe.length + 63) / 64))
    else None
  }

  /** Dense rarity-rank dictionary over a `(tk, df)` document-frequency
    * relation: `tid` = row_number in global (df, tk) order, 1-based —
    * WITHOUT a vocabulary-sized single-partition sort. Two passes:
    * the (df, token-prefix-bucket) HISTOGRAM (bounded: |df values| ×
    * |2-char prefixes| cells) gets cumulative offsets through the one
    * global window, and ranks within each (df, bucket) cell come from a
    * PARTITIONED window. The prefix bucket is order-compatible with tk
    * (prefix1 < prefix2 ⇒ tk1 < tk2), so offset + within-cell rank
    * reproduces the global dense rank exactly — same tids, same
    * downstream results, but the only global sort left is over the
    * histogram. This is the engine's standard 2-pass global-rank
    * discipline applied to dictionary encoding. */
  private[graft] def rarityRank(dfreq: DataFrame): DataFrame = {
    val b = dfreq.withColumn("tkb", substring(col("tk"), 1, 2))
    val hist = b.groupBy("df", "tkb").agg(count(lit(1)).as("nb"))
    val wH = Window.orderBy("df", "tkb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = hist.withColumn("off", coalesce(sum("nb").over(wH), lit(0L)))
    val wIn = Window.partitionBy("df", "tkb").orderBy("tk")
    b.join(off.select("df", "tkb", "off"), Seq("df", "tkb"))
      .withColumn("tid",
        (col("off") + row_number().over(wIn).cast("long")))
      .select(col("tk"), col("df"), col("tid"))
  }

  /** Exact near-duplicate pairs by set Jaccard ≥ `tau` within groups.
    *
    * `tokens` must be an array column with DISTINCT elements (the doc's
    * token or shingle set); `group` is a blocking key (e.g. language);
    * `len` a length proxy — only pairs with |Δlen| ≤ `lenBand` are
    * considered (composed into the join key as adjacent bands, so the
    * band is an equi key, not a residual-only predicate).
    *
    * Returns `(d1, d2, shared, n1, n2)` for every qualifying pair with
    * d1 < d2 — integer-exact counts so callers can apply their own score
    * canonicalization.
    *
    * Physical strategy is picked at plan time from the measured
    * dictionary size (a bounded ≤`denseDictLimit`+1 collect — dim-table
    * sized): small dictionaries encode every doc's set as a fixed-width
    * bitset via a shuffle-free map-literal projection and verify every
    * blocked pair with a native popcount fold; large dictionaries (the
    * 100 TB shape) use exact All-Pairs prefix filtering + the PPJoin
    * positional filter, bounding candidates by rare-token collisions.
    * Both strategies are brute-force-verified in DedupExactnessSuite.
    */
  def nearDupPairs(docs: DataFrame, id: Column, tokens: Column, group: Column,
                   len: Column, tau: Double, lenBand: Int = 20,
                   denseDictLimit: Int = 4096,
                   broadcastRowLimit: Long = 500000L): DataFrame = {
    val docsT = docs.select(id.cast("long").as("doc_id"), group.as("grp"),
        len.cast("long").as("len"), tokens.as("tks"))
      .localCheckpoint() // feeds the vocab probe and both strategies
    val dict = denseDictionary(docsT.select(explode(col("tks")).as("tk")), denseDictLimit)
    if (dict.isDefined) {
      // ---- dense-bitset strategy: shuffle-free map-literal encode ----
      val (dictMap, nWords) = dict.get
      val sets = docsT.select(col("doc_id"), col("grp"), col("len"),
        size(col("tks")).cast("long").as("n"),
        Kernels.bitsetFromTokens(col("tks"), dictMap, lit(nWords)).as("bs"))
      val a = sets.select(col("doc_id").as("d1"), col("grp").as("g1"),
          col("len").as("c1"), col("n").as("n1"), col("bs").as("b1"))
        .withColumn("cb1", floor(col("c1") / lenBand))
      val b = sets.select(col("doc_id").as("d2"), col("grp").as("g2"),
          col("len").as("c2"), col("n").as("n2"), col("bs").as("b2"))
        .withColumn("cb2", explode(array(floor(col("c2") / lenBand) - 1,
          floor(col("c2") / lenBand), floor(col("c2") / lenBand) + 1)))
      // broadcast only when the build side is provably bounded; a huge
      // corpus with a small dictionary still takes the bitset verify but
      // over a shuffled (grp, band) equi-join instead of a broadcast
      val bounded = docsT.limit((broadcastRowLimit + 1).toInt).count() <= broadcastRowLimit
      val bSide = if (bounded) broadcast(b) else b
      a.join(bSide, col("g1") === col("g2") && col("cb1") === col("cb2") &&
          col("d1") < col("d2") && abs(col("c1") - col("c2")) <= lenBand &&
          col("n2") >= col("n1") * tau && col("n1") >= col("n2") * tau)
        .withColumn("shared", Kernels.bitsetIntersectCount(col("b1"), col("b2")))
        .filter(col("shared") * lit(1.0) / (col("n1") + col("n2") - col("shared")) >= tau)
        .select(col("d1"), col("d2"), col("shared"), col("n1"), col("n2"))
    } else {
      // ---- exact prefix-filter strategy (All-Pairs + PPJoin) ----
      val tok = docsT.select(col("doc_id"), col("grp"), col("len"),
        explode(col("tks")).as("tk"))
      val dfreq = tok.groupBy("tk").agg(count(lit(1)).as("df"))
      // dictionary-encode tokens to dense ints in global rarity order —
      // 2-pass histogram rank, no vocabulary-sized single-partition sort
      val dict = rarityRank(dfreq)
      val sorted = tok.join(dict, "tk")
        .groupBy("doc_id", "grp", "len")
        .agg(array_sort(collect_list(col("tid"))).as("tids"))
        .withColumn("n", size(col("tids")).cast("long"))
        .localCheckpoint()
      val prefix = sorted
        .select(col("doc_id"), col("grp"), col("len"), col("n"),
          posexplode(slice(col("tids"), lit(1),
            (col("n") - ceil(col("n") * tau) + 1).cast("int"))).as(Seq("p0", "tid")))
        .withColumn("p", col("p0") + 1) // 1-based rank in the global order
      val a = prefix.select(col("doc_id").as("d1"), col("grp").as("g1"),
          col("len").as("c1"), col("n").as("n1"), col("tid").as("tid1"), col("p").as("p1"))
        .withColumn("cb1", floor(col("c1") / lenBand))
      val b = prefix.select(col("doc_id").as("d2"), col("grp").as("g2"),
          col("len").as("c2"), col("n").as("n2"), col("tid").as("tid2"), col("p").as("p2"))
        .withColumn("cb2", explode(array(floor(col("c2") / lenBand) - 1,
          floor(col("c2") / lenBand), floor(col("c2") / lenBand) + 1)))
      // PPJoin positional filter per collision row: the collision on the
      // globally smallest shared token carries BOTH minimal positions, so
      // if that row fails the bound o ≤ 1 + min(n1-p1, n2-p2) against the
      // τ-overlap α = ⌈τ/(1+τ)·(n1+n2)⌉ every other collision fails too —
      // per-row filtering admits exactly the aggregated-min pairs.
      val cand = a.join(b, col("tid1") === col("tid2") && col("g1") === col("g2") &&
          col("cb1") === col("cb2") &&
          col("d1") < col("d2") && abs(col("c1") - col("c2")) <= lenBand &&
          col("n2") >= col("n1") * tau && col("n1") >= col("n2") * tau &&
          lit(1) + least(col("n1") - col("p1"), col("n2") - col("p2")) >=
            ceil((col("n1") + col("n2")) * lit(tau) / lit(1 + tau)))
        .select("d1", "d2").distinct()
      // verify on full id sets; broadcast so candidates never shuffle
      // array payloads (bucketed co-partitioned joins at 100 TB)
      cand
        .join(broadcast(sorted.select(col("doc_id").as("d1"), col("tids").as("t1"))), "d1")
        .join(broadcast(sorted.select(col("doc_id").as("d2"), col("tids").as("t2"))), "d2")
        .withColumn("shared", size(array_intersect(col("t1"), col("t2"))).cast("long"))
        .withColumn("n1", size(col("t1")).cast("long"))
        .withColumn("n2", size(col("t2")).cast("long"))
        .filter(col("shared") * lit(1.0) / (col("n1") + col("n2") - col("shared")) >= tau)
        .select(col("d1"), col("d2"), col("shared"), col("n1"), col("n2"))
    }
  }

  /** Connected components over an undirected `(src, dst)` edge list —
    * see [[graft.ops.TrainOps.connectedComponents]]. */
  def connectedComponents(edges: DataFrame): DataFrame =
    graft.ops.TrainOps.connectedComponents(edges)

  /** Deterministic hash sample: keep rows whose md5(key) first hex digit
    * falls in `digits` — stable across engines, reruns, and repartitioning
    * (each hex digit keeps 1/16 of rows). */
  def sampleByHash(df: DataFrame, key: Column, digits: Seq[String]): DataFrame =
    df.filter(substring(md5(key.cast("string")), 1, 1).isin(digits: _*))

  /** Benchmark decontamination: rows of `corpus` sharing at least one
    * character `n`-gram with any `bench` row, with the count of distinct
    * benchmark ids each hits. The benchmark gram set broadcasts. */
  def decontaminate(corpus: DataFrame, corpusId: Column, corpusText: Column,
                    bench: DataFrame, benchId: Column, benchText: Column,
                    n: Int): DataFrame = {
    val c = graft.io.Tables.fanOut(corpus.select(corpusId.as("doc_id"),
        corpusText.as("_graft_text")))
      .select(col("doc_id"),
        explode(Kernels.ngramShingles(col("_graft_text"), lit(n))).as("g"))
    val b = bench.select(benchId.as("bdoc"),
      explode(Kernels.ngramShingles(benchText, lit(n))).as("g"))
    c.join(broadcast(b), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("bdoc")).as("n_bench_hits"))
  }
}
