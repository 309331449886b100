package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.catalyst.Kernels

/** User-facing corpus-analysis & packing API (the §2.12 operators as
  * column-parameterized, DataFrame-in/DataFrame-out functions an adopter
  * calls on their own tables; the `graft.ops.CorpusOps` fixture queries
  * delegate here). Scores come back as raw doubles — callers pick their
  * own canonicalization.
  *
  * Scale shapes match the fixture operators: redaction / repetition /
  * quantization are map-only expression pipelines; rarity is one
  * vocabulary-sized aggregate joined back (auto-broadcast); packing
  * windows are partitioned by the caller's stream key; SRP-LSH candidates
  * are bounded by band collisions on integer keys.
  */
object Corpus {

  /** Pattern-based redaction (PII masking): appends `redacted` (the text
    * with every regex hit replaced by `mask`) and `n_redacted` (hit
    * count). The mask is always literal — `$`/`\` in it are not group
    * references. Map-only. */
  def redact(df: DataFrame, text: Column, pattern: String,
             mask: String = "<PII>"): DataFrame =
    df.withColumn("redacted", regexp_replace(text, pattern,
        java.util.regex.Matcher.quoteReplacement(mask)))
      .withColumn("n_redacted",
        size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long"))

  /** Gopher-style intra-document repetition screen over whitespace-
    * tokenized `text`: appends `n_tok`, `n_dup_tok`, `n_dup_big` (integer
    * counts) and `dup_tok_frac` / `dup_big_frac` (raw doubles). Uses the
    * native word_bigrams kernel; map-only. */
  def repetitionStats(df: DataFrame, text: Column): DataFrame = {
    val toks = split(text, " ")
    val bigs = Kernels.wordBigrams(text)
    df.withColumn("n_tok", size(toks).cast("long"))
      .withColumn("n_dup_tok", (size(toks) - size(array_distinct(toks))).cast("long"))
      .withColumn("n_dup_big", (size(bigs) - size(array_distinct(bigs))).cast("long"))
      .withColumn("dup_tok_frac", col("n_dup_tok") * lit(1.0) / col("n_tok"))
      .withColumn("dup_big_frac",
        col("n_dup_big") * lit(1.0) / greatest(size(bigs), lit(1)))
  }

  /** Rarity scoring (perplexity-filter stand-in): per document, the mean
    * corpus document-frequency over its token instances. Returns
    * `(id, n_tok, sum_df, mean_df)` — integer sums to one final division,
    * so results are shuffle-merge-order independent. The df table is
    * vocabulary-sized (auto-broadcast; a vocab-keyed shuffle join at
    * 100 TB). */
  def rarityScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("id"), split(text, " ").as("toks"))
    val inst = base.select(col("id"), explode(col("toks")).as("tk"))
    val dfreq = base
      .select(col("id"), explode(array_distinct(col("toks"))).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("df"))
    inst.join(dfreq, "tk")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tok"), sum(col("df")).as("sum_df"))
      .select(col("id"), col("n_tok"), col("sum_df"),
        (col("sum_df") * lit(1.0) / col("n_tok")).as("mean_df"))
  }

  /** Concat-and-chunk sequence packing: within each `stream` (ordered by
    * `order`), documents are concatenated and cut into `budget`-token
    * training sequences. Appends `start_tok` (stream offset), `seq_first`
    * and `seq_last` (the sequence range the doc lands in). The window is
    * partitioned by `stream` — never a global single-partition window. */
  def packSequences(df: DataFrame, stream: Column, order: Column,
                    nTok: Column, budget: Int): DataFrame = {
    val w = Window.partitionBy(stream).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // internal column gets a collision-proof name: a plain "cum" would
    // silently clobber (and then drop) a caller column of the same name
    df.withColumn("_graft_cum", sum(nTok).over(w))
      .withColumn("start_tok", col("_graft_cum") - nTok)
      .withColumn("seq_first", floor(col("start_tok") / budget))
      // a zero-token row on a budget boundary would underflow cum-1 into
      // the previous sequence; clamp so seq_last is never < seq_first
      .withColumn("seq_last",
        greatest(floor((col("_graft_cum") - 1) / budget), col("seq_first")))
      .drop("_graft_cum")
  }

  /** Deterministic global shuffle order: appends `shuffle_pos`, the row's
    * 1-based position in the corpus ordered by `(md5(id), id)` — a stable
    * pseudo-random permutation, reproducible across engines, reruns, and
    * repartitioning (`rand()` is none of those). `id` must be unique (it
    * is the tiebreak that makes the order total). Scale-safe 2-pass
    * global rank: pass 1 builds a bucket histogram over the first
    * `bucketChars` hex digits of the key (the only single-partition
    * window, over at most 16^bucketChars rows); pass 2 adds a per-bucket
    * row_number to the broadcast cumulative offsets — the data rows are
    * never coalesced into one partition. The bucketing affects only the
    * physical plan, never the permutation, so widen `bucketChars` for
    * more parallelism on bigger corpora (3 ⇒ 4096-way). */
  def shuffleOrder(df: DataFrame, id: Column, bucketChars: Int = 3): DataFrame = {
    // internal columns get collision-proof names so they can't clobber
    // (and then drop) same-named caller columns. Null ids are excluded UP
    // FRONT so the histogram and the bucket join see the same rows — a
    // null key would be counted into every cumulative offset but never
    // match the equi-join, shifting all positions and losing position 1.
    val keyed = df.filter(id.isNotNull)
      .withColumn("_graft_skey", md5(id.cast("string")))
      .withColumn("_graft_bkt", substring(col("_graft_skey"), 1, bucketChars))
    // the hex bucket decodes to a dense integer, so the cumulative offsets
    // fold through the range-partitioned histogram helper — no
    // unpartitioned window even over the 16^bucketChars bucket relation
    val offsets = Histograms.cumulativeFold(
        keyed.groupBy("_graft_bkt").agg(count(lit(1)).as("_graft_cb")),
        conv(col("_graft_bkt"), 16, 10),
        Seq(Histograms.CumSpec(col("_graft_cb"), "_graft_off")))
      .select("_graft_bkt", "_graft_off")
    val wIn = Window.partitionBy("_graft_bkt").orderBy(col("_graft_skey"), id)
    keyed.join(broadcast(offsets), "_graft_bkt")
      .withColumn("shuffle_pos",
        row_number().over(wIn).cast("long") + col("_graft_off"))
      .drop("_graft_skey", "_graft_bkt", "_graft_off")
  }

  /** Fixed SRP hyperplane sign s(b, i) ∈ {±1} from md5 parity — the b-th
    * plane's i-th (1-based) component. Public so independent checkers can
    * reproduce the planes. */
  def srpSign(b: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${b}_$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) <= 7) 1.0 else -1.0
  }

  /** Embedding near-dup via signed-random-projection LSH, no blocking
    * column needed: 16 md5-derived ±1 hyperplanes → 16 sign bits → two
    * 8-bit bands; candidate pairs collide on a band (each pair emitted
    * once, at its first matching band), then exact cosine ≥ `tau` verify.
    * Returns `(v1, v2, cos)` with v1 < v2. Candidates are bounded by band
    * collisions — two self-joins on an integer key, never a cross join. */
  def srpLshPairs(df: DataFrame, id: Column, vec: Column, dim: Int,
                  tau: Double): DataFrame = {
    val planes: IndexedSeq[Seq[Double]] =
      (0 until 16).map(b => (1 to dim).map(i => srpSign(b, i)))
    val bit = (b: Int) =>
      when(Vectors.dot(vec, typedLit(planes(b))) >= 0, lit(1L << (b % 8)))
        .otherwise(lit(0L))
    // LAZY localCheckpoint: no job runs at API-call time, signatures
    // compute once per materialization, and — unlike persist(), whose
    // CacheManager entry lives until an explicit unpersist the lazy API
    // has no hook for — the checkpoint blocks are reclaimed by the
    // ContextCleaner once the plan is unreferenced. The traded-away
    // lineage only matters for recomputing ephemeral signatures.
    val sig = df
      .select(id.cast("long").as("vid"), vec.as("v"),
        (0 until 8).map(bit).reduce(_ + _).as("band0"),
        (8 until 16).map(bit).reduce(_ + _).as("band1"),
        Vectors.norm(vec).as("nrm"))
      .localCheckpoint(false)
    val a = sig.select(col("vid").as("v1"), col("v").as("e1"),
      col("nrm").as("nrm1"), col("band0").as("b0a"), col("band1").as("b1a"))
    val b = sig.select(col("vid").as("v2"), col("v").as("e2"),
      col("nrm").as("nrm2"), col("band0").as("b0b"), col("band1").as("b1b"))
    val c0 = a.join(b, col("b0a") === col("b0b") && col("v1") < col("v2"))
    val c1 = a.join(b, col("b1a") === col("b1b") && col("b0a") =!= col("b0b") &&
      col("v1") < col("v2"))
    c0.unionByName(c1)
      .withColumn("cos", Vectors.dot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2")))
      .filter(col("cos") >= tau)
      .select(col("v1"), col("v2"), col("cos"))
  }

  /** int8 quantization of a vector column: per-vector max-abs scale,
    * q_i = floor(x_i·127/maxabs) (floor, never round — deterministic
    * across engines). Appends `maxabs`, `qs` (array<long>), `sum_q`, and
    * `n_sat` (saturated components). Map-only. */
  def quantizeInt8(df: DataFrame, vec: Column): DataFrame =
    df.withColumn("maxabs",
        greatest(array_max(transform(vec, x => abs(x.cast("double")))), lit(1e-12)))
      .withColumn("qs", transform(vec,
        x => floor(x.cast("double") * lit(127.0) / col("maxabs"))))
      .withColumn("sum_q", aggregate(col("qs"), lit(0L), (acc, q) => acc + q))
      .withColumn("n_sat", size(filter(col("qs"), q => abs(q) >= 127)).cast("long"))
}
