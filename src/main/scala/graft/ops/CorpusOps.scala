package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.io.Tables.{canon, canon100}
import graft.catalyst.Kernels

/** §2.12 corpus-analysis & packing operators — the remaining stages of a
  * production pretraining pipeline: PII redaction, intra-document
  * repetition screening (the Gopher-style filters), rarity scoring,
  * sequence packing for the trainer, signed-random-projection LSH over
  * embeddings, and int8 embedding quantization. All oracle-checked; every
  * pseudo-random ingredient (SRP hyperplanes) derives from md5 so both
  * engines compute identical bits.
  *
  * Scale shapes:
  *  - PII scrub / repetition / quantization are pure per-row expression
  *    pipelines (map-only, no shuffle);
  *  - rarity joins token instances against the VOCABULARY-sized df table
  *    (auto-broadcast; at 100 TB a vocab-keyed shuffle join) and reduces
  *    with integer sums — order-independent, merge-safe;
  *  - packing windows are partitioned by language stream (never a global
  *    single-partition window);
  *  - SRP-LSH candidates are bounded by 8-bit band collisions — two
  *    self-joins on an integer key, no cross join; each pair surfaces at
  *    its first matching band, so no candidate distinct shuffle.
  */
object CorpusOps {

  /** Sensitive-term pattern for the redaction stage (dictionary-based PII
    * masking stand-in; both regex engines — Java and RE2 — treat it
    * identically, and the oracle inlines the same pattern). */
  private val PiiPattern = "\\b(customer|key|value|table)\\b"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PII redaction: mask every dictionary-pattern hit, fingerprint the
    // redacted text, count the hits — map-only, no shuffle.
    "pii_scrub" -> ((s, d) => {
      graft.api.Corpus.redact(Tables.documents(s, d), col("text"), PiiPattern)
        .select(col("doc_id"), md5(col("redacted")).as("red_fp"), col("n_redacted"))
        .orderBy("doc_id")
    }),

    // Gopher-style intra-document repetition screening: fraction of
    // duplicate tokens and duplicate word-bigrams per doc (high values ⇒
    // boilerplate/spam). Bigrams via the native word_bigrams kernel.
    "text_repetition_stats" -> ((s, d) => {
      graft.api.Corpus.repetitionStats(Tables.documents(s, d), col("text"))
        .select(col("doc_id"), col("n_tok"), col("n_dup_tok"), col("n_dup_big"),
          canon(col("dup_tok_frac")).as("dup_tok_frac_c"),
          canon(col("dup_big_frac")).as("dup_big_frac_c"))
        .orderBy("doc_id")
    }),

    // Duplicate n-gram fraction (the standard cross-document dedup
    // diagnostic, complementing the INTRA-document repetition screen
    // above): per doc, the ppm share of its DISTINCT word 3-grams that
    // also appear in at least one OTHER document. High values flag
    // near-duplicate or template text that exact dedup misses. Exactly
    // two map-side-combinable shuffles — the 3-gram document-frequency
    // aggregate and the per-doc rollup after the g-keyed join — no
    // windows, output |docs|-bounded: the shape that holds when the
    // shingle relation is 100 TB-sized.
    "text_dup_ngram_fraction" -> ((s, d) => {
      // tokenize ONCE into a projected column: referencing
      // split(text, ' ') inside the transform lambda would re-split the
      // whole string per 3-gram index (measured 7.8 s vs 1.3 s at sf0.1)
      val docGrams = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tks"))
        .filter(size(col("tks")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(tks) - 3), " +
            "i -> concat_ws(' ', tks[i], tks[i+1], tks[i+2]))"))).as("g"))
        .localCheckpoint() // read twice: the df aggregate and the join probe
      val df = docGrams.groupBy("g").agg(count(lit(1)).as("df"))
      docGrams.join(df, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          expr("(n_dup * 1000000) div n_grams").as("dup_ppm"))
        .orderBy("doc_id")
    }),

    // Rarity scoring (perplexity-filter stand-in): mean corpus document
    // frequency over the doc's token instances. Integer sums all the way
    // to one final division — shuffle-merge-order independent.
    "text_rarity_score" -> ((s, d) => {
      graft.api.Corpus.rarityScore(Tables.documents(s, d), col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_tok"), col("sum_df"),
          canon100(col("mean_df")).as("mean_df_c"))
        .orderBy("doc_id")
    }),

    // Sequence packing (concat-and-chunk): per language stream, docs are
    // concatenated in doc_id order and cut into 128-token training
    // sequences; each doc reports its stream offset and first/last
    // sequence. The window is PARTITIONED by lang — per-stream cumsum,
    // never a global single-partition window.
    "seq_pack_chunk" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.api.Corpus.packSequences(base, col("lang"), col("doc_id"),
          col("n_tok"), budget = 128)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("start_tok"), col("seq_first"), col("seq_last"))
        .orderBy("doc_id")
    }),

    // Embedding near-dup via signed-random-projection LSH: 16 md5-derived
    // ±1 hyperplanes → 16 sign bits → two 8-bit bands; candidates collide
    // on a band (emitted once, at their first matching band), then exact
    // cosine ≥ 0.35 verify. The unblocked scale path next to
    // dedup_embedding_cosine's label blocking: candidates are bounded by
    // band collisions, independent of any label column.
    "dedup_embedding_lsh" -> ((s, d) => {
      graft.api.Corpus.srpLshPairs(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), dim = 64, tau = 0.35)
        .select(col("v1"), col("v2"), canon(col("cos")).as("cos_c"))
        .orderBy("v1", "v2")
    }),

    // Deterministic corpus shuffle: the stable pseudo-random permutation
    // a trainer consumes (shuffle-then-pack), ordered by (md5(doc_id),
    // doc_id) via the scale-safe 2-pass global rank — the only
    // single-partition window is over the 4096-bucket histogram.
    "corpus_shuffle_order" -> ((s, d) => {
      graft.api.Corpus.shuffleOrder(
          Tables.documents(s, d).select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy("doc_id")
    }),

    // Training-shard manifests: docs assigned round-robin to 64 shards in
    // the deterministic md5 shuffle order, then each shard's manifest row
    // — doc count, token budget, id range — the bookkeeping a distributed
    // trainer reads before it opens a single shard file. Reuses the
    // scale-safe 2-pass shuffle rank; shard aggregation is one
    // 64-group shuffle.
    "train_shard_manifest" -> ((s, d) => {
      graft.api.Corpus.shuffleOrder(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .withColumn("shard", expr("(shuffle_pos - 1) % 64"))
        .withColumn("ntok", size(split(col("text"), " ")).cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")
    }),

    // Product quantization (the PQ in IVF-PQ): the 64-dim embedding
    // splits into 4 subspaces of 16; each sub-vector is encoded as its
    // nearest sub-codebook centroid (codebook = vectors vec_id < 8,
    // sliced). A vector compresses to 4 small codes — at 100 TB the
    // in-memory index stores 4 bytes/vector instead of 256, and distance
    // scans read code tables. Output: the 4 codes + the floor-quantized
    // total reconstruction error (integer, merge-order independent).
    "vec_pq_encode" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val subs = explode(sequence(lit(0), lit(3)))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .withColumn("sub", subs)
        .select(col("sub"), col("cid"),
          expr("slice(cvec, sub * 16 + 1, 16)").as("cslice"))
      val vecs = emb.withColumn("sub", subs)
        .select(col("vec_id"), col("sub"),
          expr("slice(embedding, sub * 16 + 1, 16)").as("vslice"))
      val sqd = Kernels.vecSqDist(col("vslice"), col("cslice"))
      val best = vecs.join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"),
          struct(sqd.as("sqd"), col("cid").as("cid")).as("w"))
        .groupBy("vec_id", "sub").agg(min(col("w")).as("w"))
        .select(col("vec_id"), col("sub"), col("w.cid").as("cid"),
          canon(col("w.sqd")).as("serr"))
      best.groupBy("vec_id")
        .agg(max(when(col("sub") === 0, col("cid"))).as("code0"),
          max(when(col("sub") === 1, col("cid"))).as("code1"),
          max(when(col("sub") === 2, col("cid"))).as("code2"),
          max(when(col("sub") === 3, col("cid"))).as("code3"),
          sum(col("serr")).as("err_c"))
        .orderBy("vec_id")
    }),

    // Cross-document repeated-passage detection (the C4/RefinedWeb
    // "remove repeated spans" stage): every 8-token sliding span is
    // fingerprinted; spans occurring in ≥ 2 documents are the
    // boilerplate/duplication signal a curation pipeline strips. Span
    // generation is row-local (transform over a token-index sequence,
    // codegen'd — no join, no window); the only shuffle is the
    // span-fingerprint aggregate, whose cardinality is bounded by the
    // corpus token count. Top-200 spans by occurrence count.
    "text_span_dedup" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val spans = transform(
        sequence(lit(1), greatest(size(toks) - 7, lit(0))),
        i => md5(concat_ws(" ", slice(toks, i, lit(8)))))
      // fanOut: ~one md5 per corpus token, all pre-shuffle — a
      // single-split scan would hash the whole corpus on one task
      Tables.fanOut(Tables.documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(spans).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_occur"),
          countDistinct(col("doc_id")).as("n_docs"),
          min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_occur").desc, col("fp")).limit(200)
    }),

    // One pair-count stage of BPE tokenizer training: corpus word counts
    // (vocabulary-sized — the BPE trainer's working set), then adjacent
    // CHARACTER-pair frequencies weighted by word count; the top pair is
    // the next merge a trainer would apply. The heavy distributed part
    // of BPE training is exactly this aggregate — a full trainer loops
    // argmax → merge → recount with the same shapes (cf. the PageRank
    // step/loop pairing in GraphOps). Top-20 merge candidates.
    "bpe_pair_stats" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tk"))
        .groupBy("tk").agg(count(lit(1)).as("c"))
        .filter(length(col("tk")) >= 2)
      val pairs = transform(
        sequence(lit(1), length(col("tk")) - 1),
        i => struct(col("tk").substr(i, lit(1)).as("l"),
          col("tk").substr(i + 1, lit(1)).as("r")))
      wc.select(explode(pairs).as("p"), col("c"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(20)
    }),

    // int8 embedding quantization: per-vector max-abs scale, q_i =
    // floor(x_i·127/maxabs) — floor, never round (determinism rule); the
    // checksums (sum of q, saturation count) are integer-exact.
    "vec_quantize_int8" -> ((s, d) => {
      graft.api.Corpus.quantizeInt8(Tables.embeddings(s, d), col("embedding"))
        .select(col("vec_id"), canon(col("maxabs")).as("maxabs_c"),
          col("sum_q"), col("n_sat"))
        .orderBy("vec_id")
    }),

    // RAG-style chunking: overlapping 64-token windows at stride 48
    // (16-token overlap), one row per (doc, chunk) with token count and
    // chunk fingerprint. Pure per-row explode — chunk count scales with
    // the doc's own length, no shuffle at all until the output sort.
    "chunk_overlap_windows" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tks"))
        .withColumn("n_tok", size(col("tks")).cast("long"))
        .select(col("doc_id"), col("tks"), col("n_tok"),
          explode(sequence(lit(0L), col("n_tok") - 1, lit(48L))).as("s"))
        .select(col("doc_id"), expr("s div 48").as("chunk_id"),
          least(lit(64L), col("n_tok") - col("s")).as("n_chunk_tok"),
          md5(array_join(slice(col("tks"), (col("s") + 1).cast("int"),
            lit(64)), " ")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Zipf-law fit per language: regress ln(freq) on ln(rank) over the
    // rank-frequency table and report the exponent (a healthy natural
    // corpus sits near −1; synthetic/templated text drifts off — a
    // corpus-forensics number). Both log terms floor-quantize at 1e3
    // per VOCAB ROW before the integer moment sums (quantize-before-
    // sum; n·Σxy − ΣxΣy stays ≤ ~10¹⁶), and the slope is one
    // floor-of-double-ratio. Ranks come from a language-partitioned
    // window over the VOCABULARY-sized count table.
    "text_zipf_fit" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tk"))
        .groupBy("lang", "tk").agg(count(lit(1)).as("f"))
      val wR = Window.partitionBy("lang").orderBy(col("f").desc, col("tk"))
      val pts = tf
        .withColumn("rk", row_number().over(wR).cast("long"))
        .withColumn("x", floor(log(col("rk").cast("double")) * 1000).cast("long"))
        .withColumn("y", floor(log(col("f").cast("double")) * 1000).cast("long"))
      pts.groupBy("lang")
        .agg(count(lit(1)).as("n_vocab"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("slope_c", floor(
          (col("n_vocab") * col("sxy") - col("sx") * col("sy"))
            .cast("double") * lit(10000.0) /
            (col("n_vocab") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .cast("long"))
        .select(col("lang"), col("n_vocab"), col("slope_c"))
        .orderBy("lang")
    }),

    // RAKE keyword extraction (Rapid Automatic Keyword Extraction),
    // regex-free: candidate phrases are the maximal stopword-delimited
    // token runs (gaps-and-islands over a cumulative stopword flag —
    // per-doc window, engine-portable), word degree = Σ phrase length
    // over a word's occurrences, score = degree/frequency as an exact
    // positive integer division. Top-20 keywords per language ranked
    // over the VOCABULARY-sized (lang, word) relation only.
    "text_rake_keywords" -> ((s, d) => {
      val stop = graft.api.Curation.Stopwords
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tk")))
        .withColumn("st", when(col("tk").isin(stop: _*), 1L).otherwise(0L))
      val wD = Window.partitionBy("doc_id").orderBy("pos")
      val members = tok
        .withColumn("pid", sum(col("st")).over(wD))
        .filter(col("st") === 0)
        .select(col("doc_id"), col("lang"), col("pid"), col("tk"))
      val plen = members.groupBy("doc_id", "pid")
        .agg(count(lit(1)).as("plen"))
      val scores = members.join(plen, Seq("doc_id", "pid"))
        .groupBy("lang", "tk")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .withColumn("score_c", expr("(deg * 10000) div freq"))
      val wR = Window.partitionBy("lang")
        .orderBy(col("score_c").desc, col("tk"))
      scores.withColumn("rk", row_number().over(wR).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("lang"), col("rk"), col("tk"), col("freq"),
          col("deg"), col("score_c"))
        .orderBy("lang", "rk")
    }),

    // Johnson–Lindenstrauss random projection 64→16 dims with a ±1
    // (Achlioptas) matrix derived from md5 parity — the cheap dim
    // reduction ahead of clustering/ANN at corpus scale. The sign matrix
    // is computed ONCE in plain Scala (MD5 is MD5 in every engine) and
    // inlined as 16 plan literals, so the whole operator is a per-row
    // projection of in-order integer folds: NO explode, NO join, NO
    // shuffle of any kind before the output sort. Components quantize to
    // integers first (floor(v·1e5)) so every projected coordinate is an
    // exact integer sum; `jl_ratio_c` checks the JL norm-preservation
    // guarantee E[|Pv|²] = k·|v|² per vector.
    "vec_random_projection" -> ((s, d) => {
      def q(v: Column): Column = floor(v.cast("double") * 100000).cast("long")
      val projCols = (0 until 16).map { j =>
        aggregate(
          zip_with(col("embedding"), typedLit(rpSigns(j)), (v, sg) => q(v) * sg),
          lit(0L), (a, x) => a + x).as(s"p$j")
      }
      val sqv = aggregate(transform(col("embedding"), v => q(v) * q(v)),
        lit(0L), (a, x) => a + x)
      Tables.embeddings(s, d)
        .select(col("vec_id") +: col("label") +: sqv.as("sqv") +: projCols: _*)
        .withColumn("proj",
          array_join(array((0 until 16).map(j => col(s"p$j")): _*)
            .cast("array<string>"), ","))
        .withColumn("sqp", (0 until 16).map(j => col(s"p$j") * col(s"p$j")).reduce(_ + _))
        .select(col("vec_id"), col("label"), col("proj"),
          floor(col("sqp") * lit(10000.0) / (lit(16.0) * col("sqv")))
            .cast("long").as("jl_ratio_c"))
        .orderBy("vec_id")
    })
  )

  /** ±1 projection signs: sgn(pos, j) = (ascii of md5("pos:j")'s first
    * hex char % 2)·2 − 1, j = 0..15 over 64 input dims — the identical
    * expression the DuckDB oracle evaluates with ITS md5 (MD5 agrees
    * everywhere, so Scala literals ≡ SQL-computed signs). */
  private lazy val rpSigns: IndexedSeq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map(j => (0 until 64).map { pos =>
      val hex = md.digest(s"$pos:$j".getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      ((hex.charAt(0).toInt % 2) * 2 - 1).toLong
    })
  }

  def oracles: Map[String, String] = Map(
    "text_zipf_fit" ->
      """WITH tf AS (SELECT lang, tk, count(*) AS f
        |  FROM (SELECT lang, unnest(str_split(text, ' ')) AS tk FROM documents)
        |  GROUP BY 1, 2),
        |pts AS (SELECT lang,
        |    CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1000) AS BIGINT) AS y
        |  FROM (SELECT lang, f,
        |      row_number() OVER (PARTITION BY lang ORDER BY f DESC, tk) AS rk
        |    FROM tf) r),
        |m AS (SELECT lang, count(*) AS n_vocab,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM pts GROUP BY 1)
        |SELECT lang, n_vocab,
        |  CAST(floor(CAST(n_vocab * sxy - sx * sy AS DOUBLE) * 10000.0
        |    / CAST(n_vocab * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS slope_c
        |FROM m ORDER BY lang""".stripMargin,

    "text_dup_ngram_fraction" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |        generate_series(1, len(toks) - 2),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
        |      FROM t WHERE len(toks) >= 3),
        |u AS (SELECT doc_id, unnest(gs) AS g FROM g),
        |df AS (SELECT g, count(*) AS df FROM u GROUP BY g),
        |r AS (SELECT u.doc_id, count(*) AS n_grams,
        |        CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_dup
        |      FROM u JOIN df ON u.g = df.g GROUP BY u.doc_id)
        |SELECT doc_id, n_grams, n_dup,
        |  CAST((n_dup * 1000000) // n_grams AS BIGINT) AS dup_ppm
        |FROM r ORDER BY doc_id""".stripMargin,

    "text_rake_keywords" ->
      """WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, lang, i AS pos, toks[i] AS tk,
        |    CASE WHEN toks[i] IN ('a', 'the', 'and', 'of', 'to')
        |      THEN 1 ELSE 0 END AS st
        |  FROM t, unnest(generate_series(1, len(toks))) g(i)),
        |ph AS (SELECT *, CAST(sum(st) OVER (PARTITION BY doc_id ORDER BY pos)
        |    AS BIGINT) AS pid FROM p),
        |m AS (SELECT doc_id, lang, pid, tk FROM ph WHERE st = 0),
        |pl AS (SELECT doc_id, pid, count(*) AS plen FROM m GROUP BY 1, 2),
        |wd AS (SELECT m.lang, m.tk, count(*) AS freq,
        |    CAST(sum(pl.plen) AS BIGINT) AS deg
        |  FROM m JOIN pl ON m.doc_id = pl.doc_id AND m.pid = pl.pid
        |  GROUP BY m.lang, m.tk),
        |r AS (SELECT lang, tk, freq, deg, (deg * 10000) // freq AS score_c,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (deg * 10000) // freq DESC, tk) AS rk
        |  FROM wd)
        |SELECT lang, rk, tk, freq, deg, score_c FROM r
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    "vec_random_projection" ->
      """WITH sg AS (SELECT pos, j,
        |    (ascii(substr(md5(CAST(pos AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1 AS sgn
        |  FROM unnest(generate_series(0, 63)) p(pos),
        |       unnest(generate_series(0, 15)) t(j)),
        |c AS (SELECT vec_id, label, i - 1 AS pos,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 100000) AS BIGINT) AS qv
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)),
        |pj AS (SELECT vec_id, label, j, CAST(sum(qv * sgn) AS BIGINT) AS p
        |  FROM c JOIN sg USING (pos) GROUP BY vec_id, label, j),
        |agg AS (SELECT vec_id, label,
        |    string_agg(CAST(p AS VARCHAR), ',' ORDER BY j) AS proj,
        |    CAST(sum(p * p) AS BIGINT) AS sqp FROM pj GROUP BY vec_id, label),
        |sv AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS sqv
        |  FROM c GROUP BY vec_id)
        |SELECT a.vec_id, a.label, a.proj,
        |  CAST(floor(sqp * 10000.0 / (16.0 * sqv)) AS BIGINT) AS jl_ratio_c
        |FROM agg a JOIN sv USING (vec_id) ORDER BY a.vec_id""".stripMargin,

    "chunk_overlap_windows" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS tks FROM documents),
        |c AS (SELECT doc_id, tks, len(tks) AS n_tok,
        |        unnest(generate_series(0, len(tks) - 1, 48)) AS s
        |      FROM t)
        |SELECT doc_id, s // 48 AS chunk_id,
        |  least(64, n_tok - s) AS n_chunk_tok,
        |  md5(array_to_string(list_slice(tks, s + 1, s + 64), ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "pii_scrub" ->
      """SELECT doc_id,
        |  md5(regexp_replace(text, '\b(customer|key|value|table)\b', '<PII>', 'g')) AS red_fp,
        |  CAST(len(regexp_extract_all(text, '\b(customer|key|value|table)\b')) AS BIGINT)
        |    AS n_redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_repetition_stats" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks,
        |    list_transform(generate_series(1, len(str_split(text, ' ')) - 1),
        |      i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i + 1]) AS bigs
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) AS n_dup_tok,
        |    CAST(len(bigs) - len(list_distinct(bigs)) AS BIGINT) AS n_dup_big,
        |    CAST(len(bigs) AS BIGINT) AS n_big
        |  FROM t)
        |SELECT doc_id, n_tok, n_dup_tok, n_dup_big,
        |  CAST(floor((n_dup_tok * 1.0 / n_tok) * 10000) AS BIGINT) AS dup_tok_frac_c,
        |  CAST(floor((n_dup_big * 1.0 / greatest(n_big, 1)) * 10000) AS BIGINT)
        |    AS dup_big_frac_c
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_rarity_score" ->
      """WITH inst AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tk FROM documents),
        |dfreq AS (SELECT tk, count(*) AS df
        |          FROM (SELECT DISTINCT doc_id, tk FROM inst) GROUP BY tk)
        |SELECT doc_id, count(*) AS n_tok, CAST(sum(df) AS BIGINT) AS sum_df,
        |  CAST(floor((sum(df) * 1.0 / count(*)) * 100) AS BIGINT) AS mean_df_c
        |FROM inst JOIN dfreq USING (tk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "seq_pack_chunk" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tok,
        |  cum - n_tok AS start_tok,
        |  CAST(floor((cum - n_tok) / 128) AS BIGINT) AS seq_first,
        |  greatest(CAST(floor((cum - 1) / 128) AS BIGINT),
        |    CAST(floor((cum - n_tok) / 128) AS BIGINT)) AS seq_last
        |FROM c ORDER BY doc_id""".stripMargin,

    "dedup_embedding_lsh" ->
      """WITH bits AS (
        |  SELECT vec_id, b,
        |    CASE WHEN list_reduce(list_transform(generate_series(1, 64),
        |        i -> CAST(embedding[i] AS DOUBLE) *
        |          (CASE WHEN substr(md5(CAST(b AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)
        |            <= '7' THEN 1.0 ELSE -1.0 END)),
        |      (x, y) -> x + y) >= 0
        |    THEN CAST(floor(pow(2.0, b % 8)) AS BIGINT) ELSE 0 END AS bit
        |  FROM embeddings, unnest(generate_series(0, 15)) t(b)),
        |sig AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN b < 8 THEN bit ELSE 0 END) AS BIGINT) AS band0,
        |    CAST(sum(CASE WHEN b >= 8 THEN bit ELSE 0 END) AS BIGINT) AS band1
        |  FROM bits GROUP BY vec_id),
        |nrm AS (SELECT vec_id, sqrt(list_reduce(list_transform(generate_series(1, 64),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (x, y) -> x + y)) AS nrm FROM embeddings),
        |cand AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2 FROM sig a JOIN sig b
        |    ON a.band0 = b.band0 AND a.vec_id < b.vec_id
        |  UNION ALL
        |  SELECT a.vec_id, b.vec_id FROM sig a JOIN sig b
        |    ON a.band1 = b.band1 AND a.band0 <> b.band0 AND a.vec_id < b.vec_id),
        |p AS (SELECT v1, v2,
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (na.nrm * nb.nrm) AS cos
        |  FROM cand
        |    JOIN embeddings ea ON v1 = ea.vec_id JOIN embeddings eb ON v2 = eb.vec_id
        |    JOIN nrm na ON v1 = na.vec_id JOIN nrm nb ON v2 = nb.vec_id)
        |SELECT v1, v2, CAST(floor(cos * 10000) AS BIGINT) AS cos_c
        |FROM p WHERE cos >= 0.35 ORDER BY v1, v2""".stripMargin,

    "corpus_shuffle_order" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |    AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "train_shard_manifest" ->
      """WITH r AS (SELECT doc_id,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok,
        |    (row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |      - 1) % 64 AS shard
        |  FROM documents)
        |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin,

    "vec_pq_encode" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |    WHERE vec_id < 8),
        |su AS (SELECT unnest(generate_series(0, 3)) AS sub),
        |cb AS (SELECT su.sub, c.cid,
        |    c.cvec[su.sub * 16 + 1 : su.sub * 16 + 16] AS cslice FROM c, su),
        |v AS (SELECT e.vec_id, su.sub,
        |    e.embedding[su.sub * 16 + 1 : su.sub * 16 + 16] AS vslice
        |  FROM embeddings e, su),
        |a AS (SELECT v.vec_id, v.sub, cb.cid,
        |    list_reduce(list_transform(generate_series(1, 16),
        |      i -> (CAST(vslice[i] AS DOUBLE) - CAST(cslice[i] AS DOUBLE)) *
        |           (CAST(vslice[i] AS DOUBLE) - CAST(cslice[i] AS DOUBLE))),
        |      (x, y) -> x + y) AS sqd
        |  FROM v JOIN cb ON v.sub = cb.sub),
        |m AS (SELECT vec_id, sub, min(sqd) AS ms FROM a GROUP BY vec_id, sub),
        |pick AS (SELECT a.vec_id, a.sub, min(a.cid) AS cid,
        |    CAST(floor(min(a.sqd) * 10000) AS BIGINT) AS serr
        |  FROM a JOIN m ON a.vec_id = m.vec_id AND a.sub = m.sub
        |    AND a.sqd = m.ms
        |  GROUP BY a.vec_id, a.sub)
        |SELECT vec_id,
        |  CAST(max(CASE WHEN sub = 0 THEN cid END) AS BIGINT) AS code0,
        |  CAST(max(CASE WHEN sub = 1 THEN cid END) AS BIGINT) AS code1,
        |  CAST(max(CASE WHEN sub = 2 THEN cid END) AS BIGINT) AS code2,
        |  CAST(max(CASE WHEN sub = 3 THEN cid END) AS BIGINT) AS code3,
        |  CAST(sum(serr) AS BIGINT) AS err_c
        |FROM pick GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "text_span_dedup" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |sp AS (SELECT doc_id, md5(array_to_string(toks[i : i + 7], ' ')) AS fp
        |       FROM t, unnest(generate_series(1, greatest(len(toks) - 7, 0))) u(i)),
        |g AS (SELECT fp, count(*) AS n_occur,
        |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |        min(doc_id) AS first_doc
        |      FROM sp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2)
        |SELECT fp, n_occur, n_docs, first_doc FROM g
        |ORDER BY n_occur DESC, fp LIMIT 200""".stripMargin,

    "bpe_pair_stats" ->
      """WITH wc AS (SELECT tk, count(*) AS c FROM (
        |    SELECT unnest(str_split(text, ' ')) AS tk FROM documents)
        |  GROUP BY tk HAVING len(tk) >= 2),
        |p AS (SELECT substr(tk, i, 1) AS l, substr(tk, i + 1, 1) AS r, c
        |      FROM wc, unnest(generate_series(1, len(tk) - 1)) u(i))
        |SELECT l, r, CAST(sum(c) AS BIGINT) AS n FROM p
        |GROUP BY l, r ORDER BY n DESC, l, r LIMIT 20""".stripMargin,

    "vec_quantize_int8" ->
      """WITH m AS (SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |      1e-12) AS mx
        |  FROM embeddings),
        |q AS (SELECT vec_id, mx, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT)) AS qs
        |  FROM m)
        |SELECT vec_id,
        |  CAST(floor(mx * 10000) AS BIGINT) AS maxabs_c,
        |  CAST(list_sum(qs) AS BIGINT) AS sum_q,
        |  CAST(len(list_filter(qs, qv -> abs(qv) >= 127)) AS BIGINT) AS n_sat
        |FROM q ORDER BY vec_id""".stripMargin
  )
}
