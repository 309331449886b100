package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.io.Tables.canon
import graft.catalyst.Kernels

/** §2.21 similarity mining & robust analytics — asymmetric containment
  * dedup, fuzzy (edit-distance) joins, inverted-index construction,
  * Pareto skylines, Markov path transitions, and leakage-checked k-fold
  * splits. All oracle-checked; every score is integer-exact before any
  * comparison (SURVEY.md §2 determinism rules).
  *
  * Scale shapes (100 TB notes):
  *  - containment: adaptive — a dictionary-sized corpus verifies pairs
  *    with dense bitsets (native AND+popcount); otherwise candidates
  *    come from an ASYMMETRIC prefix filter — only the (n1 − ⌈τ·n1⌉ + 1)
  *    globally-rarest shingles of the contained side probe the inverted
  *    index, so candidate volume is bounded by rare-shingle collisions,
  *    never |docs|²;
  *  - fuzzy join: edit distance runs once per DISTINCT name pair (the
  *    dictionary-encode trick for repeated-value domains); row-pair
  *    counts come from per-(type, name) aggregates — row pairs are never
  *    materialized. High-cardinality domains would swap the distinct
  *    dictionary for the lossless q-gram count filter
  *    (|shared bigrams| ≥ len − 1 − 2·k) in front of the verify;
  *  - inverted index: postings are built per (token, 256-doc block) so
  *    no single array exceeds the block size — the global-df screen is a
  *    window over the block-aggregate relation, not over postings;
  *  - skyline: per-(type, brand) frontier via PARTITIONED windows (the
  *    distributed local-frontier-then-merge pattern, where the group key
  *    is the partition);
  *  - transitions / kfold: user-partitioned lag windows and hash-bucket
  *    aggregates — nothing global, nothing collected.
  */
object MiningOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Asymmetric near-dup: doc A (5-gram shingle set, same language) is
    // τ=0.8-contained in a LARGER doc B when |A∩B| ≥ ⌈0.8·|A|⌉ — the
    // doc-inside-doc case Jaccard misses (its length band excludes
    // size-skewed pairs). Strategy is picked at plan time from the
    // measured shingle-dictionary size (same adaptive design as
    // Curation.nearDupPairs): small dictionaries verify pairs with a
    // native bitset AND+popcount; large ones take the lossless
    // inverted-index prefix filter (containmentPrefixPath). All
    // threshold math is integer (⌈4n/5⌉ = (4n+4) div 5).
    "dedup_containment" -> ((s, d) => {
      // fanOut BEFORE the shingling projection: the checkpointed relation
      // is ALSO the probe side of the ordered all-pairs verify below, so
      // a single-split scan would run both the shingle kernel and the
      // ≈N²/2 popcount enumeration on one task (Tables.fanOut scaladoc).
      val docs = Tables.fanOut(Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          Kernels.ngramShingles(col("text"), lit(5)).as("gs"))
        .localCheckpoint() // feeds the dictionary probe and both strategies
      val dense = graft.api.Curation.denseDictionary(
        docs.select(explode(col("gs")).as("tk")))
      dense match {
        case Some((dictMap, nWords)) =>
          // dense-bitset strategy (this corpus: ~2k-shingle dictionary →
          // 32-word bitsets): encode each doc's shingle set map-side,
          // verify every same-language (n1 ≤ n2)-ordered pair with one
          // native AND+popcount fold. Containment has no symmetric
          // length band (a 50-shingle doc can sit inside a 5000-shingle
          // one), so the pair space is per-language ORDERED all-pairs —
          // enumerated through the n-quantile band cut below (≈N²/2,
          // never both orders), bounded here by the broadcastable
          // corpus; a corpus past the broadcast budget flips to the
          // inverted-index prefix path below, whose candidates stay
          // bounded by rare-shingle collisions at any corpus size.
          val sets = docs.select(col("doc_id"), col("lang"),
            size(col("gs")).cast("long").as("n"),
            Kernels.bitsetFromTokens(col("gs"), dictMap,
              lit(nWords)).as("bs"))
          // candidate-side cut (round 13): a per-language n-QUANTILE band
          // joins into the hash key. Ordered pairs need n1 ≤ n2 and the
          // band is monotone in n, so band(A) ≤ band(B) is lossless —
          // the probe explodes A's bands ≥ its own and the broadcast
          // hash buckets split 32 ways, halving the enumerated pair
          // space (Σ_{b1≤b2} ≈ N²/2·(1+1/32) vs N² both-orders). The
          // band comes from the value-bounded (lang, n) histogram —
          // windows over the bucket relation, never over docs.
          val bsets = sets.join(broadcast(nQuantileBands(sets)), Seq("lang", "n"))
          val a = bsets.select(col("doc_id").as("d1"), col("lang").as("l1"),
            col("n").as("n1"), col("bs").as("b1"), col("band").as("band1"))
          val b = bsets.select(col("doc_id").as("d2"), col("lang").as("l2"),
            col("n").as("n2"), col("bs").as("b2"), col("band").as("band2"))
          a.withColumn("bj", explode(sequence(col("band1"), lit(nBands - 1L))))
            .join(broadcast(b), col("l1") === col("l2") &&
              col("bj") === col("band2") &&
              (col("n1") < col("n2") ||
                (col("n1") === col("n2") && col("d1") < col("d2"))))
            // early-exit fused verify (round 12): exact shared when the
            // pair qualifies, −1 the moment ⌈0.8·n1⌉ is provably out of
            // reach — identical relation to the plain AND+popcount +
            // threshold filter, but the ≫99% non-matching pairs bail
            // after a few words instead of all 32 (Bitsets
            // .containmentShared; measured at sf1 in BASELINE.md)
            .withColumn("shared", Kernels.bitsetContainmentShared(col("b1"), col("b2"), col("n1")))
            .filter(col("shared") >= 0)
            .select(col("d1"), col("d2"), col("shared"), col("n1"), col("n2"),
              canon(col("shared") * lit(1.0) / col("n1")).as("cont_c"))
            .orderBy("d1", "d2")
        case None => containmentPrefixPath(docs)
      }
    }),

    // ALGORITHMIC twin of dedup_containment: the inverted-index prefix
    // path FORCED regardless of dictionary size — different candidate
    // generation (rare-shingle probes vs all-pairs), different encoding
    // (rarity-ranked dictionary ids vs dense bitsets), different verify
    // kernel (sorted_intersect_count vs bitset AND+popcount). Twin
    // digest equality is therefore independent-evidence, stronger than
    // a shuffle twin; at sf1 it is this key's direct differential
    // check (the shingle-join DuckDB oracle is quadratic there).
    // Verification-only (SparkEntry.verifyOnly).
    "dedup_containment_prefix" -> ((s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          Kernels.ngramShingles(col("text"), lit(5)).as("gs"))
        .localCheckpoint()
      containmentPrefixPath(docs)
    }),

    // Fuzzy equi-join: part pairs of the same type whose names are
    // within edit distance 2. Levenshtein runs once per DISTINCT name
    // pair (banded length-bucket equi-join, |Δlen| ≤ 2 residual); the
    // output is the per-name-pair count of qualifying ROW pairs, built
    // from (type, name) count aggregates — row pairs never materialize.
    "join_fuzzy_levenshtein" -> ((s, d) => {
      val cnt = Tables.part(s, d)
        .groupBy(col("p_type").as("t"), col("p_name").as("nm"))
        .agg(count(lit(1)).as("c"))
      val names = cnt.select(col("nm")).distinct()
        .withColumn("len", length(col("nm")))
      val aSide = names.select(col("nm").as("nm1"), col("len").as("len1"))
        .withColumn("lb", floor(col("len1") / 2))
      val bSide = names.select(col("nm").as("nm2"), col("len").as("len2"))
        .withColumn("lb", explode(array(floor(col("len2") / 2) - 1,
          floor(col("len2") / 2), floor(col("len2") / 2) + 1)))
      val nmPairs = aSide.join(bSide, "lb")
        .filter(col("nm1") < col("nm2") &&
          abs(col("len1") - col("len2")) <= 2 &&
          levenshtein(col("nm1"), col("nm2")) <= 2)
        .select(col("nm1"), col("nm2"),
          levenshtein(col("nm1"), col("nm2")).cast("long").as("dist"))
      val c1 = cnt.select(col("t"), col("nm").as("nm1"), col("c").as("c1"))
      val c2 = cnt.select(col("t"), col("nm").as("nm2"), col("c").as("c2"))
      val cross = nmPairs.join(c1, "nm1").join(c2, Seq("t", "nm2"))
        .groupBy("nm1", "nm2")
        .agg(min(col("dist")).as("dist"),
          sum(col("c1") * col("c2")).as("n_pairs"))
      val same = cnt.groupBy(col("nm"))
        .agg(sum(expr("c * (c - 1) div 2")).as("n_pairs"))
        .filter(col("n_pairs") > 0)
        .select(col("nm").as("nm1"), col("nm").as("nm2"),
          lit(0L).as("dist"), col("n_pairs"))
      cross.select("nm1", "nm2", "dist", "n_pairs").unionByName(same)
        .orderBy("nm1", "nm2")
    }),

    // Inverted index with BLOCKED postings: token → (256-doc block) →
    // sorted posting list, per-block tf/df, global df via a window over
    // the block-aggregate relation (block-count-sized, never postings).
    // Tokens below df 10 are screened out. Blocking is what keeps every
    // posting array bounded when a stopword's df is corpus-sized.
    "index_inverted_build" -> ((s, d) => {
      val w = Window.partitionBy("token")
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .withColumn("blk", expr("doc_id div 256"))
        .groupBy("token", "blk")
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df_blk"),
          array_join(sort_array(collect_set(col("doc_id")))
            .cast("array<string>"), ",").as("postings"))
        .withColumn("df", sum(col("df_blk")).over(w))
        .filter(col("df") >= 10)
        .select(col("token"), col("blk"), col("df"), col("df_blk"),
          col("tf"), col("postings"))
        .orderBy("token", "blk")
    }),

    // Pareto skyline per (type, brand): parts not dominated on
    // (maximize retail price, minimize size) by any same-group part.
    // Window form: on-frontier ⇔ max price over STRICTLY smaller sizes
    // < mine AND max price at MY size == mine — two partitioned windows,
    // no self-join. Domination is defined on canon price (both engines
    // compare the same integers).
    "skyline_pareto" -> ((s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"),
        col("p_brand"), col("p_size").cast("long").as("p_size"),
        canon(col("p_retailprice")).as("price_c"))
      val wLt = Window.partitionBy("p_type", "p_brand")
        .orderBy(col("p_size")).rangeBetween(Window.unboundedPreceding, -1)
      val wEq = Window.partitionBy("p_type", "p_brand", "p_size")
      p.withColumn("max_lt", max(col("price_c")).over(wLt))
        .withColumn("max_eq", max(col("price_c")).over(wEq))
        .filter((col("max_lt").isNull || col("max_lt") < col("price_c")) &&
          col("price_c") === col("max_eq"))
        .select(col("p_partkey"), col("p_type"), col("p_brand"),
          col("p_size"), col("price_c"))
        .orderBy("p_partkey")
    }),

    // First-order Markov transitions over each user's event-type path:
    // (prev → next) counts from a user-partitioned lag, transition
    // probability in integer ppm of the prev-type row total (the ppm
    // window runs over the |types|² aggregate, not over events).
    "event_path_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("ppm", expr(
          "(n * 1000000) div sum(n) over (partition by prev_type)"))
        .orderBy("prev_type", "next_type")
    }),

    // Deterministic 5-fold split (md5 hex-decode bucket of doc_id) with
    // a cross-fold leakage audit: a doc "leaks" when its exact-text
    // fingerprint appears in more than one fold — the train/eval
    // contamination an exact-dedup pass should have removed. Per fold:
    // sizes plus the leaked-doc count.
    "split_kfold" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("fold", graft.api.Sampling.hashBucket(col("doc_id"), 5))
        .withColumn("fp", md5(col("text")))
      val fpFolds = docs.groupBy("fp")
        .agg(countDistinct(col("fold")).as("nf"))
      docs.join(fpFolds, "fp")
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("nf") > 1, 1L).otherwise(0L)).as("n_leaked"))
        .orderBy("fold")
    }),

    // Market-basket pair mining: co-occurrence support for part pairs
    // within an order, plus integer-ppm lift. Pair generation is
    // ORDER-LOCAL (the GraphOps edge-build / basket_rules_lift shape):
    // one collect_set aggregate per order — which also dedups, so no
    // separate distinct shuffle — then both-index explode inside the
    // basket array; candidate volume is Σ(items-per-order)², bounded by
    // basket size, never |parts|². Versus the former ok-keyed self-join
    // this removes the two join re-shuffles of the (ok, pk) relation
    // (the baskets relation is derived once and reused for the singleton
    // counts and the order count too).
    // NULL contract: collect_set drops NULL item keys, so a NULL pk never
    // reaches itemCnt or a pair (the former (ok,pk).distinct() kept it in
    // itemCnt only — pairs always excluded NULLs via p1 < p2). l_partkey
    // is NOT NULL by the TPC-H schema; pointing this op at a nullable
    // item key means "NULL items don't count", stated here explicitly.
    "basket_pair_support" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy("ok").agg(collect_set(col("pk")).as("pks"))
        .localCheckpoint() // reused: pairs, singleton counts, order count
      val itemCnt = baskets.select(explode(col("pks")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("c"))
      val nOrders = baskets.agg(count(lit(1)).as("no"))
      baskets
        .select(explode(col("pks")).as("p1"), col("pks"))
        .select(col("p1"), explode(col("pks")).as("p2"))
        .filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
        .join(itemCnt.select(col("pk").as("p1"), col("c").as("c1")), "p1")
        .join(itemCnt.select(col("pk").as("p2"), col("c").as("c2")), "p2")
        .crossJoin(broadcast(nOrders))
        .withColumn("lift_ppm", expr("(support * no * 1000000) div (c1 * c2)"))
        .select(col("p1"), col("p2"), col("support"), col("c1"), col("c2"),
          col("lift_ppm"))
        .orderBy(desc("support"), col("p1"), col("p2")).limit(20)
    }),

    // 3-itemset support (the Apriori step after basket_pair_support):
    // triple generation stays ORDER-LOCAL (items³ within each order's
    // distinct set — never a global self-join), counts are one
    // map-side-combinable aggregate, and the global cut is a
    // TakeOrderedAndProject. The lift denominator uses the singleton
    // counts (independence baseline c1·c2·c3/n²). Same NULL contract as
    // basket_pair_support: collect_set drops NULL item keys.
    "basket_triple_support" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy("ok").agg(collect_set(col("pk")).as("pks"))
        .localCheckpoint() // reused: triples, singleton counts, order count
      val itemCnt = baskets.select(explode(col("pks")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("c"))
      val nOrders = baskets.agg(count(lit(1)).as("no"))
      baskets
        .select(explode(col("pks")).as("p1"), col("pks"))
        .select(col("p1"), explode(col("pks")).as("p2"), col("pks"))
        .filter(col("p1") < col("p2"))
        .select(col("p1"), col("p2"), explode(col("pks")).as("p3"))
        .filter(col("p2") < col("p3"))
        .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2) // Apriori cut before the expensive joins
        .join(itemCnt.select(col("pk").as("p1"), col("c").as("c1")), "p1")
        .join(itemCnt.select(col("pk").as("p2"), col("c").as("c2")), "p2")
        .join(itemCnt.select(col("pk").as("p3"), col("c").as("c3")), "p3")
        .crossJoin(broadcast(nOrders))
        // double-exact lift: every product stays ≤ 2^53 (int64 ppm math
        // would overflow at support·n²·10⁶), identical parse tree in the
        // oracle
        .withColumn("lift_ppm",
          expr("CAST(floor(CAST(support AS DOUBLE) * no * no " +
            "/ (c1 * c2 * c3) * 1000000) AS BIGINT)"))
        .select(col("p1"), col("p2"), col("p3"), col("support"), col("lift_ppm"))
        .orderBy(desc("support"), col("p1"), col("p2"), col("p3")).limit(20)
    }),

    // Curation-funnel observability: per source, how many docs survive
    // each quality gate (language, char-length band, token-count band)
    // and all of them — the "where did my data go" report every
    // training pipeline needs. Conditional aggregates only; integer ppm.
    "curation_funnel_report" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pass_lang"),
          sum(when(col("n_chars").between(200, 5000), 1L).otherwise(0L)).as("pass_len"),
          sum(when(col("n_tok").between(40, 1000), 1L).otherwise(0L)).as("pass_tok"),
          sum(when(col("lang") === "en" && col("n_chars").between(200, 5000) &&
            col("n_tok").between(40, 1000), 1L).otherwise(0L)).as("pass_all"))
        .withColumn("pass_ppm", expr("(pass_all * 1000000) div n_total"))
        .orderBy("source")
    })
  )

  /** Bands per language: 32 n-quantile buckets. */
  private val nBands = 32L

  /** Per-language n-QUANTILE band from the value-bounded (lang, n)
    * histogram (windows over the bucket relation, never over docs).
    * The band is monotone nondecreasing in n, so every ordered pair
    * (n1 < n2, or n1 = n2 — then the same (lang, n) row and the same
    * band) satisfies band(A) ≤ band(B): restricting a pair join to
    * band(A) ≤ band(B) is lossless, and splitting the hash key by band
    * halves the enumerated pair space (Σ_{b1≤b2} ≈ N²/2·(1+1/32) vs
    * N² both-orders). */
  private def nQuantileBands(rel: DataFrame): DataFrame = {
    val hist = rel.groupBy("lang", "n").agg(count(lit(1)).as("cb"))
    val wLt = Window.partitionBy("lang").orderBy("n")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_lt", coalesce(sum("cb").over(wLt), lit(0L)))
      .withColumn("ntot", sum("cb").over(Window.partitionBy("lang")))
      .select(col("lang"), col("n"),
        expr(s"(cum_lt * $nBands) div ntot").as("band"))
  }

  /** The 100 TB containment path: inverted-index prefix filter. Each
    * doc's (n − ⌈0.8n⌉ + 1) globally-RAREST shingles probe the full
    * index — any true τ-contained pair must collide there (pigeonhole),
    * so the filter is lossless and candidate volume is bounded by
    * rare-shingle collisions, never |docs|². Verify is a two-pointer
    * sorted-intersect over dictionary-encoded arrays. Taken when the
    * shingle dictionary outgrows the dense-bitset encode. */
  private def containmentPrefixPath(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(col("gs")).as("tk"))
    // rarity-ordered dictionary encode — 2-pass histogram rank
    // (graft.api.Curation.rarityRank): the only global window is over
    // the (df, prefix-bucket) histogram, never the vocabulary
    val dict = graft.api.Curation.rarityRank(
      tok.groupBy("tk").agg(count(lit(1)).as("df")))
    val sorted = tok.join(dict, "tk")
      .groupBy("doc_id", "lang")
      .agg(array_sort(collect_list(col("tid"))).as("tids"))
      .withColumn("n", size(col("tids")).cast("long"))
      .localCheckpoint() // feeds probe, postings, and both verify sides
    // NOTE (round 13, measured): the dense path's n-quantile band cut
    // was tried on this candidate join too (probe explodes bands ≥ its
    // own, postings keyed by band) — sf1 wall-time was UNCHANGED within
    // noise (772 s banded vs 756 s r12), because this path is bounded
    // by the candidate-distinct shuffle and the sorted-intersect
    // verify, not posting-bucket enumeration. Reverted; rationale and
    // the verification-only time-box are recorded in BASELINE.md.
    val probe = sorted.select(col("doc_id").as("d1"), col("lang").as("l1"),
      col("n").as("n1"),
      explode(slice(col("tids"), lit(1),
        (col("n") - expr("(4 * n + 4) div 5") + 1).cast("int"))).as("tid"))
    val post = sorted.select(col("doc_id").as("d2"), col("lang").as("l2"),
      col("n").as("n2"), explode(col("tids")).as("tid"))
    val cand = probe.join(post,
        col("l1") === col("l2") && probe("tid") === post("tid") &&
          (col("n1") < col("n2") ||
            (col("n1") === col("n2") && col("d1") < col("d2"))))
      .select("d1", "d2").distinct()
    val a1 = sorted.select(col("doc_id").as("d1"), col("tids").as("t1"),
      col("n").as("n1"))
    val a2 = sorted.select(col("doc_id").as("d2"), col("tids").as("t2"),
      col("n").as("n2"))
    cand.join(a1, "d1").join(a2, "d2")
      .withColumn("shared",
        Kernels.sortedIntersectCount(col("t1"), col("t2")))
      .filter(col("shared") * 5 >= col("n1") * 4)
      .select(col("d1"), col("d2"), col("shared"), col("n1"), col("n2"),
        canon(col("shared") * lit(1.0) / col("n1")).as("cont_c"))
      .orderBy("d1", "d2")
  }

  private def hexDecode5(col: String): String =
    s"(${graft.api.Sampling.hexDecodeSql(col)}) % 5"

  def oracles: Map[String, String] = Map(
    // twin shares the primary's oracle — identical output contract
    "dedup_containment_prefix" -> containmentSql,
    "dedup_containment" -> containmentSql,
  ) ++ oraclesRest

  // Bitset-verify form (round 13): the original token-level posting
  // join (t a JOIN t b ON a.tk = b.tk ... GROUP BY pair) is exact but
  // brute-forces ~11B joined rows on this dense dictionary at sf1 —
  // the sweep-budget TIMEOUT class. Same relation, dictionary-encoded
  // 4096-bit bitsets + bit_count(AND) per ordered pair (the Spark
  // dense path's own kernel shape); digest-equal at sf0.01/sf0.1,
  // 65.3 s -> 4.6 s at sf0.1. See graft.api.OracleSql.
  //
  // Two further LOSSLESS cuts (round 13, second pass — the all-ordered-
  // pairs enumeration was the last oracle near the sf1 sweep budget):
  //  - ntile-32 band on (lang; n, doc_id): monotone in exactly the pair
  //    order, so band(A) <= band(B) for every ordered pair and the
  //    theta-join gains an equi-key (jb = band(B)) that splits each
  //    per-language cross product 32 ways (same pair count, 32x smaller
  //    DuckDB probe buckets).
  //  - 512-bit fold prescreen: f = OR-fold of tid%512. Every A-fold-bit
  //    absent from B's fold kills >=1 of A's shingles, so
  //    shared <= n1 - bit_count(a.f & ~b.f); a pair can only reach
  //    5*shared >= 4*n1 when 5*bit_count(a.f & ~b.f) <= n1. The 64-byte
  //    ANDNOT+popcount runs per enumerated pair; the 512-byte full
  //    verify only on survivors. Upper bound, hence exact.
  // Digest-equal at sf0.001/sf0.01/sf0.1; 11.3 s -> 5.0 s at sf0.1
  // same-load (sf1 numbers in BASELINE.md round 13).
  private lazy val containmentSql: String =
    """WITH g AS (SELECT doc_id, lang,
      |  list_distinct(list_transform(generate_series(1, greatest(length(text) - 4, 1)),
      |    i -> substr(text, i, 5))) AS gs FROM documents),
      |t AS (SELECT doc_id, unnest(gs) AS tk FROM g),
      |dict AS (SELECT tk, row_number() OVER (ORDER BY tk) - 1 AS tid
      |         FROM (SELECT DISTINCT tk FROM t)),
      |guard AS (SELECT CASE WHEN max(tid) < 4096 THEN 1 ELSE CAST(
      |    error('oracle shingle dictionary exceeds the 4096-bit bitset') AS INTEGER)
      |  END AS ok FROM dict),
      |bs AS (SELECT g.doc_id, g.lang, len(g.gs) AS n, eb.b, eb.f
      |       FROM g JOIN (SELECT doc_id, bitstring_agg(tid, 0, 4095) AS b,
      |                    bitstring_agg(tid % 512, 0, 511) AS f
      |                    FROM t JOIN dict USING (tk) GROUP BY doc_id) eb
      |         USING (doc_id)),
      |bsb AS (SELECT bs.*, ntile(32) OVER (PARTITION BY lang ORDER BY n, doc_id) AS bb FROM bs),
      |apr AS (SELECT bsb.*, unnest(generate_series(bb, 32)) AS jb FROM bsb),
      |pr0 AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.b AS ab, b.b AS bb2,
      |         a.n AS n1, b.n AS n2
      |       FROM apr a JOIN bsb b ON a.lang = b.lang AND a.jb = b.bb
      |         AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id)), guard
      |       WHERE guard.ok = 1
      |         AND 5 * bit_count(a.f & ~b.f) <= a.n),
      |pr AS (SELECT d1, d2, bit_count(ab & bb2) AS shared, n1, n2 FROM pr0)
      |SELECT d1, d2, CAST(shared AS BIGINT) AS shared, CAST(n1 AS BIGINT) AS n1,
      |  CAST(n2 AS BIGINT) AS n2,
      |  CAST(floor((shared * 1.0 / n1) * 10000) AS BIGINT) AS cont_c
      |FROM pr WHERE 5 * shared >= 4 * n1 ORDER BY d1, d2""".stripMargin

  private lazy val oraclesRest: Map[String, String] = Map(
    "join_fuzzy_levenshtein" ->
      """WITH c AS (SELECT p_type, p_name, count(*) AS n FROM part GROUP BY 1, 2),
        |d AS (SELECT a.p_name AS nm1, b.p_name AS nm2,
        |        levenshtein(a.p_name, b.p_name) AS dist, sum(a.n * b.n) AS np
        |      FROM c a JOIN c b ON a.p_type = b.p_type AND a.p_name < b.p_name
        |        AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |        AND levenshtein(a.p_name, b.p_name) <= 2
        |      GROUP BY 1, 2, 3),
        |e AS (SELECT p_name AS nm1, p_name AS nm2, 0 AS dist,
        |        sum(n * (n - 1) // 2) AS np
        |      FROM c GROUP BY 1, 2, 3 HAVING sum(n * (n - 1) // 2) > 0)
        |SELECT nm1, nm2, CAST(dist AS BIGINT) AS dist, CAST(np AS BIGINT) AS n_pairs
        |FROM (SELECT * FROM d UNION ALL SELECT * FROM e)
        |ORDER BY nm1, nm2""".stripMargin,

    "index_inverted_build" ->
      """WITH t AS (SELECT doc_id, doc_id // 256 AS blk,
        |    unnest(str_split(text, ' ')) AS token FROM documents),
        |g AS (SELECT token, blk, count(*) AS tf, count(DISTINCT doc_id) AS df_blk,
        |        array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
        |      FROM t GROUP BY 1, 2),
        |w AS (SELECT *, sum(df_blk) OVER (PARTITION BY token) AS df FROM g)
        |SELECT token, CAST(blk AS BIGINT) AS blk, CAST(df AS BIGINT) AS df,
        |  CAST(df_blk AS BIGINT) AS df_blk, CAST(tf AS BIGINT) AS tf, postings
        |FROM w WHERE df >= 10 ORDER BY token, blk""".stripMargin,

    "skyline_pareto" ->
      """WITH p AS (SELECT p_partkey, p_type, p_brand,
        |    CAST(p_size AS BIGINT) AS p_size,
        |    CAST(floor(p_retailprice * 10000) AS BIGINT) AS price_c FROM part)
        |SELECT p_partkey, p_type, p_brand, p_size, price_c FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.p_type = a.p_type AND b.p_brand = a.p_brand
        |    AND b.price_c >= a.price_c AND b.p_size <= a.p_size
        |    AND (b.price_c > a.price_c OR b.p_size < a.p_size))
        |ORDER BY p_partkey""".stripMargin,

    "event_path_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |s AS (SELECT event_type, lag(event_type)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |  FROM e),
        |g AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |      FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
        |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS ppm
        |FROM g ORDER BY prev_type, next_type""".stripMargin,

    "split_kfold" ->
      s"""WITH f AS (SELECT doc_id, n_chars, lang, md5(text) AS fp,
        |    ${hexDecode5("md5(CAST(doc_id AS VARCHAR))")} AS fold
        |  FROM documents),
        |nf AS (SELECT fp, count(DISTINCT fold) AS nf FROM f GROUP BY 1)
        |SELECT fold, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(CASE WHEN nf.nf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
        |FROM f JOIN nf USING (fp) GROUP BY fold ORDER BY fold""".stripMargin,

    "basket_triple_support" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ic AS (SELECT pk, count(*) AS c FROM li GROUP BY 1),
        |no AS (SELECT count(DISTINCT ok) AS no FROM li),
        |s AS (SELECT a.pk AS p1, b.pk AS p2, c.pk AS p3, count(*) AS support
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |        JOIN li c ON b.ok = c.ok AND b.pk < c.pk
        |      GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT p1, p2, p3, CAST(support AS BIGINT) AS support,
        |  CAST(floor(CAST(support AS DOUBLE) * no.no * no.no
        |    / (ca.c * cb.c * cc.c) * 1000000) AS BIGINT) AS lift_ppm
        |FROM s JOIN ic ca ON s.p1 = ca.pk JOIN ic cb ON s.p2 = cb.pk
        |  JOIN ic cc ON s.p3 = cc.pk, no
        |ORDER BY support DESC, p1, p2, p3 LIMIT 20""".stripMargin,

    "basket_pair_support" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ic AS (SELECT pk, count(*) AS c FROM li GROUP BY 1),
        |no AS (SELECT count(DISTINCT ok) AS no FROM li),
        |s AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS support
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2)
        |SELECT p1, p2, CAST(support AS BIGINT) AS support,
        |  CAST(ca.c AS BIGINT) AS c1, CAST(cb.c AS BIGINT) AS c2,
        |  CAST((support * no.no * 1000000) // (ca.c * cb.c) AS BIGINT) AS lift_ppm
        |FROM s JOIN ic ca ON s.p1 = ca.pk JOIN ic cb ON s.p2 = cb.pk, no
        |ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin,

    "curation_funnel_report" ->
      """WITH t AS (SELECT source, lang, n_chars,
        |    len(str_split(text, ' ')) AS n_tok FROM documents)
        |SELECT source, count(*) AS n_total,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pass_lang,
        |  CAST(sum(CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
        |  CAST(sum(CASE WHEN n_tok BETWEEN 40 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS pass_tok,
        |  CAST(sum(CASE WHEN lang = 'en' AND n_chars BETWEEN 200 AND 5000
        |    AND n_tok BETWEEN 40 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
        |  CAST((sum(CASE WHEN lang = 'en' AND n_chars BETWEEN 200 AND 5000
        |    AND n_tok BETWEEN 40 AND 1000 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS pass_ppm
        |FROM t GROUP BY source ORDER BY source""".stripMargin
  )
}
