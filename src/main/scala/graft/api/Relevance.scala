package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.catalyst.Kernels

/** Text-relevance scoring API: TF-IDF and BM25 ranking against a fixed
  * query-term set, and a bigram language-model scorer (the
  * perplexity-filter stage of a pretraining pipeline, with a real LM
  * instead of `Corpus.rarityScore`'s document-frequency proxy).
  *
  * Scale shapes:
  *  - per-document term frequencies are ONE conditional aggregate over the
  *    token instances (map-side combinable; the shuffle carries one row
  *    per doc);
  *  - corpus statistics (N, Σdl, per-term df) reduce to a single broadcast
  *    row — never a per-row subquery;
  *  - the scoring expression itself is a fixed-order arithmetic pipeline
  *    (map-only), so scores are reproducible: no shuffle-order-dependent
  *    float summation anywhere (the per-term products are added in query
  *    order, not reduce order);
  *  - the bigram LM's count tables are vocabulary- / bigram-vocabulary-
  *    sized (auto-broadcast; vocab-keyed shuffle joins at 100 TB).
  */
object Relevance {

  /** Per-doc term-frequency columns `tf_0..tf_{n-1}` for `terms`, plus
    * `dl` (whitespace token count). One conditional aggregate — no
    * per-term scan. Docs with no query term keep tf=0 rows. */
  private def docTermFreqs(docs: DataFrame, id: Column, text: Column,
                           terms: Seq[String]): DataFrame = {
    val toks = split(text, " ")
    val base = docs.select(id.as("_graft_id"), toks.as("_graft_toks"),
      size(toks).cast("long").as("dl"))
    val inst = base.select(col("_graft_id"), col("dl"),
      explode(col("_graft_toks")).as("_graft_tk"))
    inst.groupBy("_graft_id", "dl")
      .agg(count(lit(1)).as("_graft_n"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("_graft_tk") === t, 1L).otherwise(0L)).as(s"tf_$i")
        }: _*)
      .drop("_graft_n")
  }

  /** One broadcastable stats row: `nn` (doc count), `sumdl` (total
    * tokens), and `df_i` (docs containing term i). */
  private def corpusStats(docs: DataFrame, id: Column, text: Column,
                          terms: Seq[String]): DataFrame = {
    val toks = array_distinct(split(text, " "))
    val inst = docs.select(id.as("_graft_id"),
      size(split(text, " ")).cast("long").as("_graft_dl"),
      toks.as("_graft_toks"))
    val aggs = Seq(sum(col("_graft_dl")).as("sumdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("_graft_toks"), t), 1L).otherwise(0L))
          .as(s"df_$i")
      }
    inst.agg(count(lit(1)).as("nn"), aggs: _*)
  }

  private def withStats(docs: DataFrame, id: Column, text: Column,
                        terms: Seq[String]): DataFrame =
    docTermFreqs(docs, id, text, terms)
      .crossJoin(broadcast(corpusStats(docs, id, text, terms)))

  /** TF-IDF rank scores against `terms`: per doc,
    * `score = Σ_i tf_i · ln(N / df_i)` (natural log; terms the doc lacks
    * contribute exactly 0 — the guard keeps `0 · ln(N/0)` from producing
    * NaN). Returns `(id, dl, tf_0.., score)` with score a raw double —
    * callers canonicalize. */
  def tfIdf(docs: DataFrame, id: Column, text: Column,
            terms: Seq[String]): DataFrame = {
    val score = terms.indices.map { i =>
      when(col(s"tf_$i") > 0,
        col(s"tf_$i") * log(col("nn") * lit(1.0) / col(s"df_$i")))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    withStats(docs, id, text, terms)
      .withColumn("score", score)
      .drop("nn", "sumdl")
      .drop(terms.indices.map(i => s"df_$i"): _*)
      .withColumnRenamed("_graft_id", "id")
  }

  /** BM25 rank scores against `terms` (k1, b per Robertson–Walker):
    * `score = Σ_i idf_i · tf_i(k1+1) / (tf_i + k1(1 − b + b·dl/avgdl))`
    * with `idf_i = ln((N − df_i + 0.5)/(df_i + 0.5) + 1)` and
    * `avgdl = Σdl / N`. tf=0 terms contribute exactly 0 (zero numerator;
    * the denominator is strictly positive for b<1). Returns
    * `(id, dl, tf_0.., score)`.
    *
    * The defaults are dyadic rationals ON PURPOSE (1.25 and 0.75 are
    * exact in both binary and decimal): an independent engine
    * recomputing the score from decimal literals gets bit-identical
    * doubles. Prefer dyadic values (…, 1.125, 1.25, 1.5) for custom
    * parameters too if cross-engine reproducibility matters — the
    * textbook k1 = 1.2 has no exact binary representation. */
  def bm25(docs: DataFrame, id: Column, text: Column, terms: Seq[String],
           k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val avgdl = col("sumdl") * lit(1.0) / col("nn")
    val score = terms.indices.map { i =>
      val idf = log((col("nn") - col(s"df_$i") + lit(0.5)) /
        (col(s"df_$i") + lit(0.5)) + lit(1.0))
      val denom = col(s"tf_$i") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)
      idf * (col(s"tf_$i") * lit(k1 + 1.0)) / denom
    }.reduce(_ + _)
    withStats(docs, id, text, terms)
      .withColumn("score", score)
      .drop("nn", "sumdl")
      .drop(terms.indices.map(i => s"df_$i"): _*)
      .withColumnRenamed("_graft_id", "id")
  }

  /** Bigram language-model scoring with add-one smoothing, trained and
    * evaluated on the corpus itself (the classic perplexity-style quality
    * filter): within each `group` (e.g. language),
    * `p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)`, and each document scores
    * the sum and mean of per-bigram `floor(ln p · 10000)` — quantized
    * BEFORE summation, so the totals are integer-exact and independent of
    * shuffle merge order. Documents with fewer than two tokens drop out
    * (no bigrams). Returns `(id, group, n_big, sum_lp_c, mean_lp_c)`.
    *
    * The count tables are vocabulary- and bigram-vocabulary-sized
    * (auto-broadcast when small; vocab-keyed shuffle joins at scale). */
  def bigramLmScore(docs: DataFrame, id: Column, group: Column,
                    text: Column): DataFrame = {
    val base = docs.select(id.as("_graft_id"), group.as("_graft_g"),
      split(text, " ").as("_graft_toks"),
      Kernels.wordBigrams(text).as("_graft_bigs"))
    val uni = base.select(col("_graft_g"), explode(col("_graft_toks")).as("_graft_w"))
    val cu = uni.groupBy("_graft_g", "_graft_w").agg(count(lit(1)).as("_graft_cu"))
    val vb = uni.groupBy("_graft_g")
      .agg(count_distinct(col("_graft_w")).as("_graft_v"))
    val bi = base.select(col("_graft_id"), col("_graft_g"),
      explode(col("_graft_bigs")).as("_graft_b"))
    val cb = bi.groupBy("_graft_g", "_graft_b").agg(count(lit(1)).as("_graft_cb"))
    val p = (col("_graft_cb") + lit(1.0)) / (col("_graft_cu") + col("_graft_v"))
    bi
      .join(cb, Seq("_graft_g", "_graft_b"))
      .withColumn("_graft_w", split(col("_graft_b"), " ").getItem(0))
      .join(cu, Seq("_graft_g", "_graft_w"))
      .join(vb, Seq("_graft_g"))
      .withColumn("_graft_lp", floor(log(p) * lit(10000.0)))
      .groupBy("_graft_id", "_graft_g")
      .agg(count(lit(1)).as("n_big"), sum(col("_graft_lp")).as("sum_lp_c"))
      .withColumn("mean_lp_c",
        floor(col("sum_lp_c") * lit(1.0) / col("n_big")).cast("long"))
      .withColumnRenamed("_graft_id", "id")
      .withColumnRenamed("_graft_g", "group")
  }

  /** Held-out bigram-LM evaluation: the add-one model's counts come from
    * `train` ONLY; `eval` documents are scored against them — the
    * cross-validation split a perplexity filter is actually tuned on,
    * where [[bigramLmScore]] trains and scores on the same corpus.
    * Unseen bigrams/contexts degrade gracefully under add-one smoothing
    * (count 0 ⇒ p = 1/(0+V), via left joins + coalesce). Per-term ln p is
    * floor-quantized BEFORE the per-doc integer sum (merge-order
    * independent). Returns `(id, group, n_big, sum_lp_c, mean_lp_c)` per
    * eval document.
    *
    * Scale shape: count tables are train-vocabulary-sized (auto-broadcast
    * here, vocab-keyed shuffles at scale); eval bigram instances join
    * them by key — nothing is ever both-sides-large. */
  def bigramLmEval(train: DataFrame, eval: DataFrame, id: Column,
                   group: Column, text: Column): DataFrame = {
    val tUni = train.select(group.as("_graft_g"),
        explode(split(text, " ")).as("_graft_w"))
    val cu = tUni.groupBy("_graft_g", "_graft_w").agg(count(lit(1)).as("_graft_cu"))
    val vb = tUni.groupBy("_graft_g")
      .agg(count_distinct(col("_graft_w")).as("_graft_v"))
    val cb = train.select(group.as("_graft_g"),
        explode(Kernels.wordBigrams(text)).as("_graft_b"))
      .groupBy("_graft_g", "_graft_b").agg(count(lit(1)).as("_graft_cb"))
    val evBi = eval.select(id.as("_graft_id"), group.as("_graft_g"),
      explode(Kernels.wordBigrams(text)).as("_graft_b"))
    val p = (coalesce(col("_graft_cb"), lit(0L)) + lit(1.0)) /
      (coalesce(col("_graft_cu"), lit(0L)) + col("_graft_v"))
    evBi
      .join(cb, Seq("_graft_g", "_graft_b"), "left")
      .withColumn("_graft_w", split(col("_graft_b"), " ").getItem(0))
      .join(cu, Seq("_graft_g", "_graft_w"), "left")
      .join(vb, Seq("_graft_g"))
      .withColumn("_graft_lp", floor(log(p) * lit(10000.0)))
      .groupBy("_graft_id", "_graft_g")
      .agg(count(lit(1)).as("n_big"), sum(col("_graft_lp")).as("sum_lp_c"))
      .withColumn("mean_lp_c",
        floor(col("sum_lp_c") * lit(1.0) / col("n_big")).cast("long"))
      .withColumnRenamed("_graft_id", "id")
      .withColumnRenamed("_graft_g", "group")
  }

  /** Unigram-entropy quality feature: per document,
    * `H = Σ_tokens −p·ln p` over the doc's own token distribution (low
    * entropy ⇒ repetitive/boilerplate text). Each token type's term is
    * floor-quantized to 1e−6 BEFORE the per-doc integer sum, so `ent_c`
    * (entropy · 10⁶, floor per term) is exact and independent of shuffle
    * merge order. Returns `(id, n_tok, n_distinct, ent_c)`. All
    * aggregates (per-(doc,token) counts, doc totals, the final doc sum)
    * are two-phase map-side-combinable hash aggregates; the totals join
    * reuses the doc-key partitioning — no sort or window anywhere. */
  def entropyScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val inst = docs.select(id.as("_graft_id"),
      explode(split(text, " ")).as("_graft_tk"))
    val cnts = inst.groupBy("_graft_id", "_graft_tk")
      .agg(count(lit(1)).as("_graft_c"))
    // doc totals come from a second AGGREGATE joined back on the doc key
    // (both sides already hash-partitioned by _graft_id — no sort, no
    // window), keeping the documented two-aggregate shape accurate
    val totals = cnts.groupBy("_graft_id").agg(sum(col("_graft_c")).as("_graft_n"))
    val p = col("_graft_c").cast("double") / col("_graft_n")
    cnts.join(totals, "_graft_id")
      .withColumn("_graft_t", floor(p * log(p) * lit(-1000000.0)))
      .groupBy("_graft_id")
      .agg(max(col("_graft_n")).as("n_tok"),
        count(lit(1)).as("n_distinct"),
        sum(col("_graft_t")).as("ent_c"))
      .withColumnRenamed("_graft_id", "id")
  }
}
