package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.io.Tables.canon
import graft.catalyst.Kernels

/** Training-data-pipeline operators beyond the core §2.8 set (BASELINE.json
  * north star: dedup, similarity search, multimodal columns, text analysis
  * at 100 TB). Every operator is a declarative plan with a DuckDB oracle;
  * the hash-based ones (MinHash, SimHash) are built exclusively from md5 —
  * the one hash both engines evaluate identically — so even the
  * "probabilistic" candidate generators are deterministic and
  * oracle-checkable end to end.
  *
  * Scale shapes:
  *  - MinHash-LSH: signatures are one shuffle (doc × seeds), banding is one
  *    shuffle on (band, bandkey) — candidate volume is bounded by band
  *    collisions, independent of token frequency (the 100 TB near-dup
  *    path; the exact prefix-filter variant lives in LlmOps).
  *  - SimHash: fingerprints via bit-vote aggregation, candidates via
  *    chunk-bucket join (4 chunks of 4 bits catch every pair within
  *    Hamming distance 3) — never a full cross join.
  *  - IVF ANN: per-label centroids = the coarse quantizer; queries probe
  *    one cell (nprobe=1), so search cost is |cell| not |corpus|.
  *  - Text analytics are pure per-row expression pipelines (no shuffle
  *    until the final aggregate).
  */
object Pipeline {

  /** Distinct word tokens per document. `array_distinct` BEFORE the
    * explode keeps the dedup row-local (doc_id is unique, so per-doc
    * distinct equals the global distinct of (doc_id, …, tk)) — no
    * corpus-wide distinct shuffle. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
      explode(array_distinct(split(col("text"), " "))).as("tk"))

  private val stopwords = graft.api.Curation.Stopwords

  /** MinHash-LSH band rows for a token relation (doc_id, lang, tk): 8
    * md5-minhashes per doc, 4 bands × 2 rows. The VOCABULARY is hashed
    * once (8 md5s per distinct token — at corpus scale the vocabulary is
    * orders of magnitude smaller than the posting list) and the per-doc
    * signature is 8 plain min() aggregates (codegen'd, map-side
    * combinable: the shuffle carries one 8-hash row per doc per task,
    * never a token list). Each band row also carries the FULL key array
    * so joins can require "no earlier band matched" — a pair surfaces
    * exactly once, at its first matching band, and no candidate distinct
    * shuffle is ever needed. */
  private def lshBands(tok: DataFrame): DataFrame = {
    val tkhash = tok.select("tk").distinct()
      .withColumn("mhs", array((0 until 8).map(sd =>
        md5(concat(col("tk"), lit(":"), lit(sd.toString)))): _*))
    val sig = tok.join(tkhash, "tk") // vocab: auto-broadcast when small, shuffle at scale
      .groupBy("doc_id", "lang")
      .agg((1 to 8).map(i => min(element_at(col("mhs"), i)).as(s"m$i")).head,
        (2 to 8).map(i => min(element_at(col("mhs"), i)).as(s"m$i")): _*)
      .select(col("doc_id"), col("lang"),
        array((1 to 8).map(i => col(s"m$i")): _*).as("sig"))
    sig
      .withColumn("keys", transform(sequence(lit(0), lit(3)), j => md5(concat(
        element_at(col("sig"), j * 2 + 1), lit("|"),
        element_at(col("sig"), j * 2 + 2)))))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), lit(3))).as("band"), col("keys"))
      .withColumn("bandkey", element_at(col("keys"), col("band") + 1))
      .localCheckpoint() // joined twice below: compute signatures once
  }

  /** "No earlier band matched" residual over the carried key arrays
    * (k-column naming from [[lshCandidates]]'s a/b projections). */
  private def lshFirstMatch =
    (col("b1") <= 0 || element_at(col("ka"), 1) =!= element_at(col("kb"), 1)) &&
      (col("b1") <= 1 || element_at(col("ka"), 2) =!= element_at(col("kb"), 2)) &&
      (col("b1") <= 2 || element_at(col("ka"), 3) =!= element_at(col("kb"), 3))

  private def lshSide(bands: DataFrame, n: Int): DataFrame =
    bands.select(col("doc_id").as(s"d$n"), col("lang").as(s"l$n"),
      col("band").as(s"b$n"), col("bandkey").as(s"k$n"),
      col("keys").as(if (n == 1) "ka" else "kb"))

  /** Exact-Jaccard verification of candidate (d1, d2) pairs over full
    * token sets. The SET REPRESENTATION is adaptive on the measured
    * token-dictionary size (candidate generation is untouched): a small
    * dictionary turns each doc's token set into a fixed-width bitset —
    * encoded by a shuffle-free map-literal projection — so every
    * candidate verifies with a popcount fold instead of a string-array
    * intersect.
    *
    * Scale shape: the corpus-sized `sets` relation is never joined (or
    * broadcast) whole. Each pair-join side is first SEMI-JOINED down to
    * the doc ids that actually appear in a candidate pair — bounded by
    * band collisions, which LSH itself bounds — so both inputs of the
    * pair join are collision-sized. No broadcast hint: AQE picks
    * broadcast vs shuffle from the measured post-semi-join size
    * (`forceShuffle` pins the shuffled shape for the verify-only twin
    * under the same oracle). Returns cand + `jac`. */
  private def verifyJaccard(docs: DataFrame, tok: DataFrame,
                            cand: DataFrame,
                            forceShuffle: Boolean = false): DataFrame = {
    val c = cand.localCheckpoint() // collision-bounded; reused 3× below
    // Prune `sets` to one side's candidate ids (the id list auto-broadcasts
    // for the semi-join; the corpus streams through map-side).
    def candSide(sets: DataFrame, side: String): DataFrame = {
      val pruned = sets.join(c.select(col(side).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      if (forceShuffle) pruned.hint("shuffle_hash") else pruned
    }
    val dict = graft.api.Curation.denseDictionary(tok.select("tk"))
    if (dict.isDefined) {
      val (dictMap, nWords) = dict.get
      val sets = docs
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tks"))
        .select(col("doc_id"), size(col("tks")).cast("long").as("n"),
          Kernels.bitsetFromTokens(col("tks"), dictMap, lit(nWords)).as("bs"))
      c
        .join(candSide(sets, "d1").select(col("doc_id").as("d1"),
          col("n").as("n1"), col("bs").as("bs1")), "d1")
        .join(candSide(sets, "d2").select(col("doc_id").as("d2"),
          col("n").as("n2"), col("bs").as("bs2")), "d2")
        .withColumn("shared", Kernels.bitsetIntersectCount(col("bs1"), col("bs2")))
        .withColumn("jac", col("shared") * lit(1.0) /
          (col("n1") + col("n2") - col("shared")))
    } else {
      val sets = tok.groupBy("doc_id").agg(collect_list(col("tk")).as("tks"))
      c
        .join(candSide(sets, "d1").select(col("doc_id").as("d1"), col("tks").as("t1")), "d1")
        .join(candSide(sets, "d2").select(col("doc_id").as("d2"), col("tks").as("t2")), "d2")
        .withColumn("shared", size(array_intersect(col("t1"), col("t2"))).cast("long"))
        .withColumn("jac", col("shared") * lit(1.0) /
          (size(col("t1")) + size(col("t2")) - col("shared")))
    }
  }

  /** Shared oracle skeleton for the word-token MinHash-LSH keys: md5
    * minhash signatures, 4×2 banding, band-collision candidates
    * (`candExtra` narrows the collision pair filter), and the round-13
    * bitset verify ([[graft.api.OracleSql.wordBitsets]] — the former
    * per-pair `list_intersect` over word-list string columns was the
    * sweep-budget TIMEOUT class at sf1's 190M-pair candidate sets).
    * Digest-equal to the list_intersect form at sf0.01/sf0.1 on every
    * key that swapped in (BASELINE.md round 13). */
  private def lshBitsetOracle(candExtra: String, finalSelect: String): String =
    s"""WITH tok AS (SELECT DISTINCT doc_id, lang, unnest(str_split(text, ' ')) AS tk
      |             FROM documents),
      |sig AS (SELECT doc_id, lang, s AS seed,
      |          min(md5(tk || ':' || CAST(s AS VARCHAR))) AS mh
      |        FROM tok, unnest(generate_series(0, 7)) t(s)
      |        GROUP BY doc_id, lang, s),
      |band AS (SELECT doc_id, lang, seed // 2 AS band,
      |           md5(string_agg(mh, '|' ORDER BY seed)) AS bandkey
      |         FROM sig GROUP BY doc_id, lang, seed // 2),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |         FROM band a JOIN band b ON a.lang = b.lang AND a.band = b.band
      |           AND a.bandkey = b.bandkey
      |           $candExtra),
      |${graft.api.OracleSql.wordBitsets},
      |v AS (SELECT d1, d2, bit_count(sa.b & sb.b) AS shared, sa.n AS n1, sb.n AS n2
      |      FROM cand JOIN sets sa ON d1 = sa.doc_id JOIN sets sb ON d2 = sb.doc_id,
      |        wguard WHERE wguard.ok = 1)
      |$finalSelect""".stripMargin

  /** Shared oracle for `dedup_incremental` and its full-corpus-derivation
    * twin `dedup_incremental_fullscan`. */
  private val incrementalSql: String = lshBitsetOracle(
    "AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0",
    """SELECT d1 AS d_new, d2 AS d_old,
      |  CAST(floor((shared * 1.0 / (n1 + n2 - shared)) * 10000) AS BIGINT) AS jac_c
      |FROM v WHERE shared * 1.0 / (n1 + n2 - shared) >= 0.5
      |ORDER BY d_new, d_old""".stripMargin)

  /** Shared oracle for `dedup_weighted_jaccard` and its forced-shuffle
    * verify twin. Round 13: the Σmin verify no longer goes through the
    * (pair × token) equi-join — ~4B joined rows at sf1's banded
    * candidate volume, the sweep-budget TIMEOUT class — but through a
    * dense per-doc tf VECTOR over the word dictionary (one fixed-length
    * INT list per doc, positions = dictionary rank), so each candidate
    * pair is one zip/least/sum lambda over two doc-width vectors: the
    * SQL mirror of the Spark plan's packed two-pointer kernel. The
    * wguard bounds the vector width loudly, like the bitset blocks.
    * Digest-equal to the join form at sf0.01/sf0.1 (BASELINE.md r13).
    *
    * The `z[1]`/`z[2]` extraction below is POSITIONAL by necessity:
    * `list_zip` produces UNNAMED structs on DuckDB 1.0.x, where named
    * extraction (`z['list_1']`) THROWS. Both oracle runners
    * (tools/check.py, tools/check_sf1.py) assert the 1.0. pin at import
    * time, so an engine bump fails loudly before this SQL ever runs. */
  private val weightedJaccardSql: String =
    """WITH tok AS (SELECT doc_id, lang, tk, count(*) AS tf
      |  FROM (SELECT doc_id, lang, unnest(str_split(text, ' ')) AS tk
      |        FROM documents) GROUP BY 1, 2, 3),
      |dt AS (SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS t
      |  FROM tok GROUP BY 1, 2),
      |wdict AS (SELECT tk, row_number() OVER (ORDER BY tk) AS tid
      |        FROM (SELECT DISTINCT tk FROM tok)),
      |wguard AS (SELECT CASE WHEN max(tid) <= 512 THEN 1 ELSE CAST(
      |    error('oracle word dictionary exceeds the 512-slot tf vector') AS INTEGER)
      |  END AS ok FROM wdict),
      |vec AS (SELECT d.doc_id, list(coalesce(t.tf, 0) ORDER BY w.tid) AS v
      |        FROM (SELECT DISTINCT doc_id FROM tok) d CROSS JOIN wdict w
      |        LEFT JOIN tok t ON t.doc_id = d.doc_id AND t.tk = w.tk
      |        GROUP BY d.doc_id),
      |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.t AS t1, b.t AS t2
      |  FROM dt a JOIN dt b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |    AND abs(a.t - b.t) <= 20),
      |sm AS (SELECT c.d1, c.d2, c.t1, c.t2,
      |    CAST(list_sum(list_transform(list_zip(x.v, y.v),
      |      z -> least(z[1], z[2]))) AS BIGINT) AS smin
      |  FROM cand c JOIN vec x ON x.doc_id = c.d1
      |    JOIN vec y ON y.doc_id = c.d2, wguard WHERE wguard.ok = 1)
      |SELECT d1, d2,
      |  CAST(floor((smin * 1.0 / (t1 + t2 - smin)) * 10000) AS BIGINT) AS wj_c
      |FROM sm WHERE smin * 1.0 / (t1 + t2 - smin) >= 0.4
      |ORDER BY d1, d2""".stripMargin

  /** Weighted-Jaccard near-dup pairs (see the `dedup_weighted_jaccard`
    * entry for the full design note). Every document is encoded ONCE as
    * a sorted `tid << 20 | tf` packed array (tids dense in global rarity
    * order via the 2-pass histogram rank; tf < 2^20 is ENFORCED at encode
    * time — a pathological document repeating one token ≥2^20 times fails
    * the query loudly instead of silently corrupting the tid bits), so
    * the exact Σmin verify is a codegen'd
    * merge over two doc-sized arrays instead of a (pair × token) shuffle.
    * The banded pair join broadcasts the doc-sized build side only when
    * provably bounded (≤500k docs — band blocking presumes a corpus
    * partitioned by (lang, length band) anyway at larger scale);
    * `forceShuffle` pins the unbounded shuffled plan for the verify-only
    * twin. */
  private def weightedJaccard(s: SparkSession, d: String,
                              forceShuffle: Boolean): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tk"))
      .groupBy("doc_id", "lang", "tk").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // reused: dictionary build + packed encode
    val dict = graft.api.Curation.rarityRank(
      tok.groupBy("tk").agg(count(lit(1)).as("df")))
    val packed = tok.join(dict.select("tk", "tid"), "tk")
      .select(col("doc_id"), col("lang"),
        // 20-bit tf contract of Bitsets.packedTfMinOverlap, enforced here
        (shiftleft(col("tid"), 20) +
          when(col("tf") < lit(1048576L), col("tf")).otherwise(raise_error(
            concat(lit("weightedJaccard: tf >= 2^20 breaks tid<<20|tf packing (doc_id="),
              col("doc_id").cast("string"), lit(")"))))).as("ptf"),
        col("tf"))
      .groupBy("doc_id", "lang")
      .agg(sort_array(collect_list(col("ptf"))).as("ptfs"), sum("tf").as("t"))
      .localCheckpoint() // one row per document; feeds both pair sides
    val a = packed.select(col("doc_id").as("d1"), col("lang").as("l1"),
        col("t").as("t1"), col("ptfs").as("pa"))
      .withColumn("cb1", floor(col("t1") / 20))
    val b = packed.select(col("doc_id").as("d2"), col("lang").as("l2"),
        col("t").as("t2"), col("ptfs").as("pb"))
      .withColumn("cb2", explode(array(floor(col("t2") / 20) - 1,
        floor(col("t2") / 20), floor(col("t2") / 20) + 1)))
    val bounded = !forceShuffle &&
      packed.limit(500001).count() <= 500000L
    val bSide = if (bounded) broadcast(b) else b.hint("shuffle_hash")
    a.join(bSide, col("l1") === col("l2") && col("cb1") === col("cb2") &&
        col("d1") < col("d2") && abs(col("t1") - col("t2")) <= 20)
      .withColumn("smin", Kernels.packedTfMinOverlap(col("pa"), col("pb")))
      .filter(col("smin") * lit(1.0) / (col("t1") + col("t2") - col("smin")) >= 0.4)
      .select(col("d1"), col("d2"),
        canon(col("smin") * lit(1.0) / (col("t1") + col("t2") - col("smin")))
          .as("wj_c"))
      .orderBy("d1", "d2")
  }

  /** Cross-set MinHash near-dup kernel: pairs `(d_new, d_old, jac)` of
    * `newDocs` × `corpus` with exact Jaccard ≥ `tau` — candidates come
    * only from new×old band collisions (never old×old), so the work of
    * admitting a batch scales with the batch, not the corpus. Both
    * inputs need (doc_id, lang, text); ids must be disjoint. Shared by
    * the batch `dedup_incremental` fixture and the streaming
    * `stream_dedup_incremental` admission fixture. */
  private[graft] def incrementalPairs(newDocs: DataFrame, corpus: DataFrame,
                                      tau: Double = 0.5): DataFrame = {
    val all = newDocs.select("doc_id", "lang", "text")
      .unionByName(corpus.select("doc_id", "lang", "text"))
    val tok = all.select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("tk"))
      .localCheckpoint()
    val bands = lshBands(tok)
    val newIds = newDocs.select(col("doc_id")).localCheckpoint()
    val cand = lshSide(bands.join(broadcast(newIds), Seq("doc_id"), "left_semi"), 1)
      .join(lshSide(bands.join(broadcast(newIds), Seq("doc_id"), "left_anti"), 2),
        col("l1") === col("l2") && col("b1") === col("b2") &&
          col("k1") === col("k2") && lshFirstMatch)
      .select("d1", "d2")
    verifyJaccard(all, tok, cand)
      .filter(col("jac") >= tau)
      .select(col("d1").as("d_new"), col("d2").as("d_old"), col("jac"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MinHash-LSH banding: 8 md5-minhashes per doc, 4 bands × 2 rows;
    // docs sharing any band bucket are candidates; exact Jaccard ≥ 0.5
    // verification on full token sets (false positives filtered, false
    // negatives bounded by 1-(1-J²)⁴ by construction).
    "dedup_minhash_lsh" -> ((s, d) => {
      val tok = tokens(Tables.documents(s, d)).localCheckpoint() // reused 3x
      val bands = lshBands(tok)
      val cand = lshSide(bands, 1)
        .join(lshSide(bands, 2), col("l1") === col("l2") &&
          col("b1") === col("b2") && col("k1") === col("k2") &&
          col("d1") < col("d2") && lshFirstMatch)
        .select("d1", "d2")
      verifyJaccard(Tables.documents(s, d), tok, cand)
        .filter(col("jac") >= 0.5)
        .select(col("d1"), col("d2"), canon(col("jac")).as("jac_c"))
        .orderBy("d1", "d2")
    }),

    // The SAME MinHash-LSH semantics with the verify-stage join FORCED
    // shuffled (no AQE broadcast): the physical shape the collision set
    // takes when it outgrows a broadcast at corpus scale. Verification-
    // only — SparkEntry.verifyOnly excludes it from the bench headline.
    "dedup_minhash_shuffle" -> ((s, d) => {
      val tok = tokens(Tables.documents(s, d)).localCheckpoint()
      val bands = lshBands(tok)
      val cand = lshSide(bands, 1)
        .join(lshSide(bands, 2), col("l1") === col("l2") &&
          col("b1") === col("b2") && col("k1") === col("k2") &&
          col("d1") < col("d2") && lshFirstMatch)
        .select("d1", "d2")
      verifyJaccard(Tables.documents(s, d), tok, cand, forceShuffle = true)
        .filter(col("jac") >= 0.5)
        .select(col("d1"), col("d2"), canon(col("jac")).as("jac_c"))
        .orderBy("d1", "d2")
    }),

    // Incremental (daily-ingest) dedup: a NEW batch (doc_id % 5 = 0)
    // near-dup-checked against the EXISTING corpus only — candidates are
    // new×old band collisions, never old×old: the work of admitting a
    // batch scales with the batch, not with the corpus. Same banding
    // (lshBands), first-match emission, and exact-Jaccard verify
    // (verifyJaccard) as the full run; the side split filters the band
    // rows directly on the id predicate — no extra scan or membership
    // join. The streaming admission fixture runs the same helpers via
    // [[incrementalPairs]], whose inputs arrive as separate relations.
    "dedup_incremental" -> ((s, d) => {
      val tok = tokens(Tables.documents(s, d)).localCheckpoint()
      val bands = lshBands(tok)
      val cand = lshSide(bands.filter(col("doc_id") % 5 === 0), 1)
        .join(lshSide(bands.filter(col("doc_id") % 5 =!= 0), 2),
          col("l1") === col("l2") && col("b1") === col("b2") &&
            col("k1") === col("k2") && lshFirstMatch)
        .select("d1", "d2")
      verifyJaccard(Tables.documents(s, d), tok, cand)
        .filter(col("jac") >= 0.5)
        .select(col("d1").as("d_new"), col("d2").as("d_old"),
          canon(col("jac")).as("jac_c"))
        .orderBy("d_new", "d_old")
    }),

    // ALGORITHMIC twin of dedup_incremental: the identical admission
    // relation derived from the FULL-corpus MinHash pair run instead of
    // the new×old side-filtered candidate generation — a band collision
    // is a property of the two docs' signatures alone, so restricting
    // the full (d1 < d2, J ≥ 0.5) pair relation to pairs with exactly
    // one endpoint in the new batch and re-orienting to (d_new, d_old)
    // must reproduce the incremental output bit-for-bit. Twin equality
    // therefore checks the side-split candidate generation end to end;
    // at sf1 it is this key's direct differential evidence (the
    // chained-CTE DuckDB oracle is quadratic there). Verification-only.
    "dedup_incremental_fullscan" -> ((s, d) => {
      val tok = tokens(Tables.documents(s, d)).localCheckpoint()
      val bands = lshBands(tok)
      val cand = lshSide(bands, 1)
        .join(lshSide(bands, 2), col("l1") === col("l2") &&
          col("b1") === col("b2") && col("k1") === col("k2") &&
          col("d1") < col("d2") && lshFirstMatch)
        .select("d1", "d2")
      verifyJaccard(Tables.documents(s, d), tok, cand)
        .filter(col("jac") >= 0.5)
        .filter((col("d1") % 5 === 0) =!= (col("d2") % 5 === 0))
        .select(
          when(col("d1") % 5 === 0, col("d1")).otherwise(col("d2")).as("d_new"),
          when(col("d1") % 5 === 0, col("d2")).otherwise(col("d1")).as("d_old"),
          canon(col("jac")).as("jac_c"))
        .orderBy("d_new", "d_old")
    }),

    // Weighted (multiset) Jaccard dedup: J_w = Σ min(tf₁,tf₂) / Σ max —
    // token FREQUENCIES matter, so a doc repeating one phrase ten times
    // no longer matches a doc mentioning it once (the set-Jaccard blind
    // spot). Identity Σmax = T₁ + T₂ − Σ_∩min means only the shared-token
    // min-sum is ever computed. The verify never expands candidate pairs
    // into (pair × token) rows: each document's term-frequency vector is
    // dictionary-encoded once into ONE sorted `tid << 20 | tf` packed
    // array, candidates come from (lang, total-token-band) blocking over
    // the doc-sized relation, and Σmin per pair is a codegen'd two-pointer
    // merge (`packed_tf_min_overlap`) — O(|terms₁|+|terms₂|) with zero
    // per-pair shuffle rows. (A probabilistic MinHash prescreen cannot be
    // used here: qualifying pairs reach set-Jaccard 1/3, below any LSH
    // collision guarantee, and the operator is exact.) The doc-sized
    // build side broadcasts only when provably bounded; the `_shuffle`
    // verify-only twin pins the unbounded-corpus plan under the same
    // oracle.
    "dedup_weighted_jaccard" -> ((s, d) => weightedJaccard(s, d, forceShuffle = false)),
    "dedup_weighted_jaccard_shuffle" -> ((s, d) => weightedJaccard(s, d, forceShuffle = true)),

    // SimHash: 16-bit fingerprint from per-bit majority votes of token md5
    // hex parity; candidates from 4-bit chunk buckets (pigeonhole: any two
    // fingerprints within Hamming 3 agree on ≥1 of 4 chunks); pairs kept
    // when Hamming(sim1, sim2) ≤ 3 within a language.
    "dedup_simhash" -> ((s, d) => {
      val tok = tokens(Tables.documents(s, d)).localCheckpoint() // reused 2x
      // per-vocabulary-word bit votes (±1 per bit from md5 hex parity),
      // computed once per distinct token and broadcast
      val tkvotes = tok.select("tk").distinct()
        .withColumn("votes", array((0 until 16).map(j =>
          (ascii(substring(md5(col("tk")), j + 1, 1)) % 2) * 2 - 1): _*))
      // per-doc fingerprint: 16 plain sum() vote aggregates (codegen'd,
      // map-side combinable — the shuffle carries one 16-int row per doc
      // per task), then sign → bit weights summed row-wise
      val sims = tok.join(tkvotes, "tk")
        .groupBy("doc_id", "lang")
        .agg((0 until 16).map(j => sum(element_at(col("votes"), j + 1)).as(s"sv$j")).head,
          (1 until 16).map(j => sum(element_at(col("votes"), j + 1)).as(s"sv$j")): _*)
        .withColumn("sim", (0 until 16).map(j =>
          when(col(s"sv$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _))
      // the fingerprint determines every chunk value, so carrying `sim`
      // lets the join require "no earlier chunk matched" — each pair
      // surfaces exactly once (first matching chunk) and the candidate
      // distinct shuffle disappears.
      val chunks = sims.select(col("doc_id"), col("lang"), col("sim"),
          explode(sequence(lit(0), lit(3))).as("c"))
        .withColumn("ck", expr("CAST(floor(sim / pow(2.0, c * 4)) AS BIGINT) % 16"))
        .localCheckpoint() // self-joined below: compute fingerprints once
      val a = chunks.select(col("doc_id").as("d1"), col("lang").as("l1"),
        col("sim").as("s1"), col("c").as("c1"), col("ck").as("k1"))
      val b = chunks.select(col("doc_id").as("d2"), col("lang").as("l2"),
        col("sim").as("s2"), col("c").as("c2"), col("ck").as("k2"))
      def chunkOf(sim: Column, j: Int): Column =
        floor(sim / pow(lit(2.0), lit(j * 4))).cast("long") % 16
      val firstMatch = (0 until 3).map(j =>
        col("c1") <= j || chunkOf(col("s1"), j) =!= chunkOf(col("s2"), j)).reduce(_ && _)
      a.join(b, col("l1") === col("l2") && col("c1") === col("c2") &&
          col("k1") === col("k2") && col("d1") < col("d2") && firstMatch)
        .select(col("d1"), col("d2"), col("s1"), col("s2"))
        .withColumn("hamming", expr("bit_count(s1 ^ s2)").cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("d1"), col("d2"), col("hamming"))
        .orderBy("d1", "d2")
    }),

    // Character 5-gram shingle Jaccard (τ=0.7): shingles come from the
    // native codegen'd ngram_shingles kernel (per-doc distinct array,
    // map-only), then the shared adaptive set-similarity join
    // (graft.api.Curation.nearDupPairs) picks dense-bitset popcount
    // verification for small dictionaries or exact All-Pairs prefix +
    // PPJoin filtering for the 100 TB large-dictionary shape.
    "dedup_ngram_jaccard" -> ((s, d) => {
      val docsG = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          Kernels.ngramShingles(col("text"), lit(5)).as("gs"))
      graft.api.Curation.nearDupPairs(docsG, col("doc_id"), col("gs"),
          col("lang"), col("n_chars"), tau = 0.7)
        .withColumn("jac", col("shared") * lit(1.0) /
          (col("n1") + col("n2") - col("shared")))
        .select(col("d1"), col("d2"), canon(col("jac")).as("jac_c"))
        .orderBy("d1", "d2")
    }),

    // The SAME ngram-Jaccard semantics with the adaptive strategy FORCED
    // to the large-dictionary path (denseDictLimit = 0 ⇒ All-Pairs prefix
    // + PPJoin): no fixture corpus exceeds the 4096-entry dictionary
    // bound, so this variant puts the 100 TB strategy itself under the
    // DuckDB oracle. Verification-only — SparkEntry.verifyOnly excludes
    // it from the bench headline (it would only re-measure a forced
    // suboptimal plan for this corpus).
    "dedup_ngram_jaccard_prefix" -> ((s, d) => {
      val docsG = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          Kernels.ngramShingles(col("text"), lit(5)).as("gs"))
      graft.api.Curation.nearDupPairs(docsG, col("doc_id"), col("gs"),
          col("lang"), col("n_chars"), tau = 0.7, denseDictLimit = 0)
        .withColumn("jac", col("shared") * lit(1.0) /
          (col("n1") + col("n2") - col("shared")))
        .select(col("d1"), col("d2"), canon(col("jac")).as("jac_c"))
        .orderBy("d1", "d2")
    }),

    // The dense-bitset strategy with the broadcast DISABLED
    // (broadcastRowLimit = 0): the blocked self-join becomes a shuffled
    // (group, length-band) equi-join — the physical shape a huge corpus
    // with a small dictionary takes. Verification-only, same oracle.
    "dedup_ngram_jaccard_shuffle" -> ((s, d) => {
      val docsG = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          Kernels.ngramShingles(col("text"), lit(5)).as("gs"))
      graft.api.Curation.nearDupPairs(docsG, col("doc_id"), col("gs"),
          col("lang"), col("n_chars"), tau = 0.7, broadcastRowLimit = 0L)
        .withColumn("jac", col("shared") * lit(1.0) /
          (col("n1") + col("n2") - col("shared")))
        .select(col("d1"), col("d2"), canon(col("jac")).as("jac_c"))
        .orderBy("d1", "d2")
    }),

    // Embedding-cosine near-dup: same-label blocking (the IVF cell doubles
    // as the blocking key), pairs with cosine ≥ 0.35. Norms are computed
    // ONCE per vector and joined in — the pair stage folds only the dot
    // product (3× fewer per-pair HOF evaluations than the naive form).
    "dedup_embedding_cosine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(Kernels.vecDot(col("embedding"), col("embedding"))))
      val a = emb.select(col("vec_id").as("v1"), col("label").as("lb1"),
        col("embedding").as("e1"), col("nrm").as("nrm1"))
      val b = emb.select(col("vec_id").as("v2"), col("label").as("lb2"),
        col("embedding").as("e2"), col("nrm").as("nrm2"))
      a.join(b, col("lb1") === col("lb2") && col("v1") < col("v2"))
        .withColumn("cos", Kernels.vecDot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2")))
        .filter(col("cos") >= 0.35)
        .select(col("v1"), col("v2"), canon(col("cos")).as("cos_c"))
        .orderBy("v1", "v2")
    }),

    // IVF approximate nearest neighbor: coarse quantizer = per-label
    // centroids; each query (vec_id < 5) probes its nearest cell only
    // (nprobe=1), then exact top-5 by squared L2 within the cell.
    "ann_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cent = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(avg(col("v").cast("double")).as("cv"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("centroid"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val assign = queries.crossJoin(broadcast(cent))
        .withColumn("cdist", Kernels.vecSqDist(col("qe"), col("centroid"))) // float vs double sides
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cdist"), col("label"))))
        .filter(col("rk") === 1)
        .select(col("qid"), col("qe"), col("label").as("cell"))
      val w = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
      emb.join(broadcast(assign), col("label") === col("cell") && col("vec_id") =!= col("qid"))
        .withColumn("dist", Kernels.vecSqDist(col("embedding"), col("qe")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"), canon(col("dist")).as("dist_c"))
        .orderBy("qid", "rk")
    }),

    // IVF nprobe tuning sweep: the recall/cost curve an operator reads
    // before fixing nprobe on a 100 TB index. For nprobe ∈ {1,2,3} each
    // query probes its np nearest cells; per nprobe the sweep reports
    // rows scanned (the cost axis) and recall@5 against the exact
    // brute-force truth (the quality axis). Cells and candidates reuse
    // the ann_ivf_topk machinery; the candidate relation carries an `np`
    // column so ONE plan evaluates the whole curve (no per-setting
    // re-scan of the index structure).
    "ann_ivf_nprobe_sweep" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cent = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(avg(col("v").cast("double")).as("cv"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("centroid"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val cells = queries.crossJoin(broadcast(cent))
        .withColumn("cdist", Kernels.vecSqDist(col("qe"), col("centroid")))
        .withColumn("crk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cdist"), col("label"))))
        .filter(col("crk") <= 3)
        .select(col("qid"), col("qe"), col("label").as("cell"), col("crk"))
      val probes = cells
        .withColumn("np", explode(sequence(lit(1L), lit(3L))))
        .filter(col("crk") <= col("np"))
      val cand = emb.join(broadcast(probes),
          col("label") === col("cell") && col("vec_id") =!= col("qid"))
        .withColumn("dist", Kernels.vecSqDist(col("embedding"), col("qe")))
        .localCheckpoint() // consumed by the scan count AND the top-k
      val scanned = cand.groupBy("np").agg(count(lit(1)).as("n_scanned"))
      val top = cand
        .withColumn("rk", row_number().over(
          Window.partitionBy("np", "qid").orderBy(col("dist"), col("vec_id"))))
        .filter(col("rk") <= 5)
      val truth = LlmOps.queries("vec_knn_brute")(s, d)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val hits = top.join(truth.withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
        .groupBy("np").agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      scanned.join(hits, Seq("np"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .withColumn("recall_ppm", expr("(n_hits * 1000000) div n_truth"))
        .select(col("np"), col("n_scanned"), col("n_hits"), col("recall_ppm"))
        .orderBy("np")
    }),

    // IVF-PQ with re-rank: the full production ANN pipeline in one plan.
    // (1) Coarse quantizer: Voronoi cells of the 8 seed vectors — unlike
    // ann_ivf_topk's label blocking, cells correlate with proximity
    // (measured on this data: the true top-5 live in the probed cells
    // 96% of the time). Queries probe nprobe=2 cells. (2) ADC (asymmetric
    // distance computation) over PQ codes — 16 subspaces of 4 dims, 64
    // codewords each; each query precomputes a 16×64 lookup table and a
    // database vector's approximate distance is 16 integer lookups
    // summed; the candidate scan never touches the 64-float embedding.
    // (3) Exact re-rank: the ADC top-20 shortlist (per query) is
    // re-scored with true squared L2 and cut to top-5. At 100 TB this is
    // the shape that wins: the index is ~16 bytes/vector + a 1024-row
    // broadcast codebook, the scan is table lookups, and full vectors
    // are fetched for only 20 rows per query. Measured recall@5 vs
    // vec_knn_brute: 0.84 (gated in MaintOpsSuite). Determinism: each
    // per-subspace distance is floor-canonized to integer units BEFORE
    // the ADC sum (quantize-before-sum rule); the re-rank reuses the
    // exact-distance ordering already oracle-proven in ann_ivf_topk.
    "ann_ivf_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // coarse quantizer: Voronoi cells of the 8 seed vectors (the same
      // seeds as kmeans_assign_step)
      val coarse = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("ccell"), col("embedding").as("cemb"))
      // inverted lists: each vector files under its nearest seed
      // (tie → lower cell id via the struct-min)
      val cells = emb.crossJoin(broadcast(coarse))
        .select(col("vec_id"),
          struct(Kernels.vecSqDist(col("embedding"), col("cemb")).as("cd"),
            col("ccell")).as("w"))
        .groupBy("vec_id").agg(min(col("w")).as("w"))
        .select(col("vec_id"), col("w.ccell").as("cell"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val assign = queries.crossJoin(broadcast(coarse))
        .withColumn("cdist", Kernels.vecSqDist(col("qe"), col("cemb")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cdist"), col("ccell"))))
        .filter(col("rk") <= 2) // nprobe = 2
        .select(col("qid"), col("ccell").as("pcell"))
      // PQ codebook: 16 subspaces of 4 dims, codewords = the first 64
      // vectors sliced (finer than vec_pq_encode's 4×16 demo split —
      // ADC rank quality needs many small subspaces)
      val subs = explode(sequence(lit(0), lit(15)))
      val cb = emb.filter(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .withColumn("sub", subs)
        .select(col("sub"), col("cid"),
          expr("slice(cvec, sub * 4 + 1, 4)").as("cslice"))
      // database codes: argmin sub-codeword per (vector, subspace) —
      // the same (sqd, cid) struct-min pick as vec_pq_encode
      val codes = emb.withColumn("sub", subs)
        .select(col("vec_id"), col("sub"),
          expr("slice(embedding, sub * 4 + 1, 4)").as("vslice"))
        .join(broadcast(cb), Seq("sub"))
        .select(col("vec_id"), col("sub"),
          struct(Kernels.vecSqDist(col("vslice"), col("cslice")).as("sqd"),
            col("cid").as("cid")).as("w"))
        .groupBy("vec_id", "sub").agg(min(col("w")).as("w"))
        .select(col("vec_id"), col("sub"), col("w.cid").as("cid"))
      // per-query ADC lookup tables (5 queries × 16 subs × 64 codewords)
      val dtab = queries.withColumn("sub", subs)
        .select(col("qid"), col("sub"),
          expr("slice(qe, sub * 4 + 1, 4)").as("qslice"))
        .join(broadcast(cb), Seq("sub"))
        .select(col("qid"), col("sub"), col("cid"),
          canon(Kernels.vecSqDist(col("qslice"), col("cslice"))).as("dc"))
      // ADC scan of the probed cells → top-20 shortlist per query
      val wAdc = Window.partitionBy("qid").orderBy(col("adc_c"), col("vec_id"))
      val shortlist = codes
        .join(cells, "vec_id")
        .join(broadcast(assign),
          col("cell") === col("pcell") && col("vec_id") =!= col("qid"))
        .join(broadcast(dtab), Seq("qid", "sub", "cid"))
        .groupBy("qid", "vec_id").agg(sum(col("dc")).as("adc_c"))
        .withColumn("ark", row_number().over(wAdc))
        .filter(col("ark") <= 20)
        .select(col("qid"), col("vec_id"))
      // exact re-rank of the shortlist (≤ 20 full-vector fetches/query)
      val wEx = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
      emb.join(broadcast(shortlist), "vec_id")
        .join(broadcast(queries), "qid")
        .withColumn("dist", Kernels.vecSqDist(col("embedding"), col("qe")))
        .withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"), canon(col("dist")).as("dist_c"))
        .orderBy("qid", "rk")
    }),

    // Matryoshka staged retrieval: shortlist on the cheap 32-dim PREFIX
    // of the embedding (MRL-style nested representations), exact 64-dim
    // re-rank on the ≤100-row shortlist. At 100 TB the prefix stage is
    // the scan: half the bytes per candidate (or a prefix-only index);
    // full vectors are fetched for 100 rows per query. (On these
    // untrained uniform embeddings a 16-dim prefix measured only 0.48
    // recall@5 — MRL-trained prefixes concentrate variance, random ones
    // do not, so the demo uses the 32-dim tier: 0.96 at sf0.01.) Components are
    // floor-canonized to integers BEFORE either distance sum
    // (quantize-before-sum), so shortlist membership and final ranks are
    // bit-equal across engines — both stage cuts break ties on vec_id.
    // Measured recall@5 vs vec_knn_brute: gated in MaintOpsSuite.
    "vec_prefix_rerank_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
          .as("ev"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("ev").as("qe"))
      def isq(a: String, b: String): Column =
        expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
      val w1 = Window.partitionBy("qid").orderBy(col("psqd"), col("vec_id"))
      val w2 = Window.partitionBy("qid").orderBy(col("sqd"), col("vec_id"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("psqd", isq("slice(ev, 1, 32)", "slice(qe, 1, 32)"))
        .withColumn("rk1", row_number().over(w1))
        .filter(col("rk1") <= 100)
        .withColumn("sqd", isq("ev", "qe"))
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"), col("psqd"), col("sqd"))
        .orderBy("qid", "rk")
    }),

    // Language ID, n-gram/marker-token heuristic: per-language profile =
    // top-20 tokens by in-language document frequency; prediction = argmax
    // profile overlap (tie → lang asc); output = confusion matrix. The
    // overlap scoring uses the same small-dictionary bitset trick as the
    // dedup family when it applies (popcount AND instead of a per-(doc,
    // lang) string-array intersect).
    "text_langid" -> ((s, d) => {
      val tok = tokens(Tables.documents(s, d))
      val prof = tok.groupBy("lang", "tk").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("n").desc, col("tk"))))
        .filter(col("rk") <= 20)
        .groupBy(col("lang").as("plang"))
        .agg(sort_array(collect_list(col("tk"))).as("profile"))
      val dict = graft.api.Curation.denseDictionary(tok.select("tk"))
      val scored =
        if (dict.isDefined) {
          val (dictMap, nWords) = dict.get
          val docs = Tables.documents(s, d)
            .select(col("doc_id"), col("lang"),
              Kernels.bitsetFromTokens(
                array_distinct(split(col("text"), " ")), dictMap, lit(nWords)).as("bs"))
          docs.crossJoin(broadcast(prof.select(col("plang"),
              Kernels.bitsetFromTokens(col("profile"), dictMap, lit(nWords)).as("pbs"))))
            .withColumn("score",
              Kernels.bitsetIntersectCount(col("bs"), col("pbs")))
        } else {
          val docs = tok.groupBy("doc_id", "lang")
            .agg(collect_list(col("tk")).as("tks"))
          docs.crossJoin(broadcast(prof))
            .withColumn("score", size(array_intersect(col("tks"), col("profile"))))
        }
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang"))))
        .filter(col("rk") === 1)
        .groupBy(col("lang"), col("plang").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    // Quality scoring: token count, stopword ratio, mean token length,
    // composite score — the filter stage of a training-data pipeline.
    "text_quality_score" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val stopArr = array(stopwords.map(lit): _*)
      Tables.documents(s, d)
        .withColumn("n_tok", size(toks).cast("long"))
        .withColumn("n_stop", size(filter(toks, t => array_contains(stopArr, t))).cast("long"))
        .withColumn("stop_ratio", col("n_stop") * lit(1.0) / col("n_tok"))
        .withColumn("mean_len", (length(col("text")) - col("n_tok") + 1) * lit(1.0) / col("n_tok"))
        .withColumn("score",
          col("stop_ratio") * 0.5 + col("mean_len") / 10.0 * 0.3 +
            least(col("n_tok") * lit(1.0) / 100.0, lit(1.0)) * 0.2)
        .select(col("doc_id"), col("n_tok"), col("n_stop"),
          canon(col("stop_ratio")).as("stop_c"),
          canon(col("score")).as("score_c"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens + a BPE-ish regex lexer
    // (letter runs / digit runs / single symbols), aggregated per language
    // — the "how many tokens is this corpus" pipeline stage.
    "text_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_ws", size(split(col("text"), " ")).cast("long"))
        .withColumn("n_re",
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long"))
        .groupBy("lang")
        .agg(sum(col("n_ws")).as("ws_tokens"), sum(col("n_re")).as("re_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // Document fingerprinting: rolling 8-gram window, winnowing-style min
    // hash + distinct shingle count + whole-document fingerprint.
    "doc_fingerprint" -> ((s, d) => {
      val shingles = transform(
        sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
        i => md5(col("text").substr(i, lit(8))))
      Tables.documents(s, d)
        .withColumn("fp_min", array_min(shingles))
        .withColumn("n_shingles", size(array_distinct(shingles)).cast("long"))
        .withColumn("fp_doc", md5(col("text")))
        .select(col("doc_id"), col("fp_min"), col("n_shingles"), col("fp_doc"))
        .orderBy("doc_id")
    }),

    // Multimodal column plumbing: content as a binary column with typed
    // metadata; "decode" is a deterministic stub (no media libs in this
    // container — see graft.udf.MultimodalStub for the typed mapPartitions
    // path) whose fake dimensions derive from the content fingerprint.
    "multimodal_decode_stub" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("content", encode(col("text"), "utf-8"))
        .withColumn("nbytes", octet_length(col("content")).cast("long"))
        .withColumn("fp", md5(col("text")))
        .withColumn("digits", lpad(regexp_replace(col("fp"), "[a-f]", ""), 4, "0"))
        .withColumn("fake_w", (substring(col("digits"), 1, 2).cast("long") % 8 + 1) * 64)
        .withColumn("fake_h", (substring(col("digits"), 3, 2).cast("long") % 8 + 1) * 64)
        .withColumn("n_frames", col("n_chars") % 30 + 1)
        .select(col("doc_id"), col("nbytes"), col("fp"),
          col("fake_w"), col("fake_h"), col("n_frames"))
        .orderBy("doc_id")
    }),

    // Uniform temporal frame sampling over the stubbed video column
    // (the Spark-side plumbing is the point — the real decoder is
    // containerized out, SURVEY §2.10): k = 4 frames per doc, idx =
    // (i·n) div 4 for n > 4 (strictly increasing — differences ≥ 1),
    // every frame when n ≤ 4; per-frame fingerprint keyed on (doc fp,
    // idx). Pure per-row expressions + a bounded explode (≤ 4
    // rows/doc) — no shuffle until the output sort at any scale.
    "multimodal_frame_sample" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("fp", md5(col("text")))
        .withColumn("n_frames", col("n_chars") % 30 + 1)
        .withColumn("i",
          explode(expr("sequence(CAST(0 AS BIGINT), least(n_frames, 4) - 1)")))
        .withColumn("frame_idx",
          expr("CASE WHEN n_frames <= 4 THEN i ELSE (i * n_frames) div 4 END"))
        .select(col("doc_id"), col("n_frames"), col("i").as("k"),
          col("frame_idx"),
          md5(concat(col("fp"), lit(":"), col("frame_idx"))).as("frame_fp"))
        .orderBy("doc_id", "k")
    }),

    // Aspect-preserving resize of the stubbed image metadata: fit
    // (fake_w, fake_h) into a 256×256 box in integer floor arithmetic
    // — new dims = (dim · 256) div max(w, h). Metadata-only (the pixel
    // op is the decoder's job); per-row expressions, no shuffle.
    "multimodal_resize_stub" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("fp", md5(col("text")))
        .withColumn("digits", lpad(regexp_replace(col("fp"), "[a-f]", ""), 4, "0"))
        .withColumn("fake_w", (substring(col("digits"), 1, 2).cast("long") % 8 + 1) * 64)
        .withColumn("fake_h", (substring(col("digits"), 3, 2).cast("long") % 8 + 1) * 64)
        .withColumn("new_w", expr("(fake_w * 256) div greatest(fake_w, fake_h)"))
        .withColumn("new_h", expr("(fake_h * 256) div greatest(fake_w, fake_h)"))
        .select(col("doc_id"), col("fake_w"), col("fake_h"),
          col("new_w"), col("new_h"))
        .orderBy("doc_id")
    })
  )

  /** Shared oracle for `dedup_minhash_lsh` and its forced-shuffle twin
    * (identical semantics ⇒ identical oracle; only the Spark-side
    * physical verify-join strategy differs). */
  private val minhashLshSql: String = lshBitsetOracle(
    "AND a.doc_id < b.doc_id",
    """SELECT d1, d2,
      |  CAST(floor((shared * 1.0 / (n1 + n2 - shared)) * 10000) AS BIGINT) AS jac_c
      |FROM v WHERE shared * 1.0 / (n1 + n2 - shared) >= 0.5
      |ORDER BY d1, d2""".stripMargin)

  /** Shared oracle for the `dedup_ngram_jaccard` triple (primary +
    * prefix + shuffle twins — identical semantics ⇒ identical oracle).
    * Round 13: the unbanded per-pair `list_intersect` over 5-gram
    * shingle STRING lists (the r11 sweep's slowest TIMEOUT — hours at
    * sf1) is replaced by [[graft.api.OracleSql.shingleJaccardPairs]],
    * whose `p(d1, d2, shared, n1, n2)` is the identical relation
    * through the bucketed ±20-char band and the dictionary-bitset
    * verify. Digest-equal at sf0.01/sf0.1 (69.1 s → 2.1 s at sf0.1). */
  private val ngramJaccardSql: String =
    s"""WITH ${graft.api.OracleSql.shingleJaccardPairs(withPairs = false)},
      |r AS (SELECT d1, d2,
      |  CAST(floor((shared * 1.0 / (n1 + n2 - shared)) * 10000) AS BIGINT) AS jac_c
      |FROM p WHERE shared * 1.0 / (n1 + n2 - shared) >= 0.7)
      |SELECT * FROM r ORDER BY d1, d2""".stripMargin

  def oracles: Map[String, String] = Map(
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_minhash_shuffle" -> minhashLshSql,

    "dedup_incremental" -> incrementalSql,
    // full-corpus-derivation twin: identical semantics, identical oracle
    "dedup_incremental_fullscan" -> incrementalSql,

    "dedup_weighted_jaccard" -> weightedJaccardSql,
    // forced-shuffle twin: identical semantics, identical oracle
    "dedup_weighted_jaccard_shuffle" -> weightedJaccardSql,

    "dedup_simhash" ->
      """WITH tok AS (SELECT DISTINCT doc_id, lang, unnest(str_split(text, ' ')) AS tk
        |             FROM documents),
        |votes AS (SELECT doc_id, lang, j,
        |            sum((ascii(substr(md5(tk), j + 1, 1)) % 2) * 2 - 1) AS sv
        |          FROM tok, unnest(generate_series(0, 15)) t(j)
        |          GROUP BY doc_id, lang, j),
        |sims AS (SELECT doc_id, lang,
        |           sum(CASE WHEN sv > 0 THEN CAST(floor(pow(2.0, j)) AS BIGINT) ELSE 0 END) AS sim
        |         FROM votes GROUP BY doc_id, lang),
        |chunks AS (SELECT doc_id, lang, sim, c,
        |             CAST(floor(sim / pow(2.0, c * 4)) AS BIGINT) % 16 AS ck
        |           FROM sims, unnest(generate_series(0, 3)) t(c)),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sim AS s1, b.sim AS s2
        |         FROM chunks a JOIN chunks b ON a.lang = b.lang AND a.c = b.c
        |           AND a.ck = b.ck AND a.doc_id < b.doc_id)
        |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(s1, s2)) <= 3
        |ORDER BY d1, d2""".stripMargin,

    // identical semantics ⇒ identical oracle; only the Spark-side
    // physical strategy differs
    "dedup_ngram_jaccard_shuffle" -> ngramJaccardSql,

    "dedup_ngram_jaccard_prefix" -> ngramJaccardSql,

    "dedup_ngram_jaccard" -> ngramJaccardSql,

    "dedup_embedding_cosine" ->
      """WITH p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y) /
        |  (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y)) *
        |   sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)),
        |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT v1, v2, CAST(floor(cos * 10000) AS BIGINT) AS cos_c
        |FROM p WHERE cos >= 0.35 ORDER BY v1, v2""".stripMargin,

    "ann_ivf_nprobe_sweep" ->
      """WITH cpos AS (SELECT label, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS cv
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
        |  GROUP BY label, i),
        |cent AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM cpos GROUP BY label),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |adist AS (SELECT qid, qe, label,
        |    list_reduce(list_transform(generate_series(1, len(qe)),
        |      i -> (CAST(qe[i] AS DOUBLE) - centroid[i]) * (CAST(qe[i] AS DOUBLE) - centroid[i])),
        |      (x, y) -> x + y) AS cdist
        |  FROM q, cent),
        |cells AS (SELECT qid, qe, label AS cell, crk FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cdist, label) AS crk
        |    FROM adist) WHERE crk <= 3),
        |probes AS (SELECT np, qid, qe, cell FROM cells,
        |    unnest(generate_series(1, 3)) t(np) WHERE crk <= np),
        |cand AS (SELECT np, qid, vec_id,
        |    list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> (CAST(embedding[i] AS DOUBLE) - CAST(qe[i] AS DOUBLE)) *
        |           (CAST(embedding[i] AS DOUBLE) - CAST(qe[i] AS DOUBLE))), (x, y) -> x + y) AS dist
        |  FROM embeddings JOIN probes ON label = cell AND vec_id <> qid),
        |scanned AS (SELECT np, count(*) AS n_scanned FROM cand GROUP BY np),
        |top AS (SELECT np, qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY np, qid ORDER BY dist, vec_id) AS rk
        |    FROM cand) WHERE rk <= 5),
        |alld AS (SELECT q.qid, e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)) *
        |           (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))), (x, y) -> x + y) AS dist
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |truth AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk
        |    FROM alld) WHERE rk <= 5),
        |hits AS (SELECT np, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM top JOIN truth USING (qid, vec_id) GROUP BY np),
        |tc AS (SELECT count(*) AS n_truth FROM truth)
        |SELECT s.np, s.n_scanned, coalesce(h.n_hits, 0) AS n_hits,
        |  (coalesce(h.n_hits, 0) * 1000000) // n_truth AS recall_ppm
        |FROM scanned s LEFT JOIN hits h ON s.np = h.np, tc
        |ORDER BY s.np""".stripMargin,

    "ann_ivf_topk" ->
      """WITH cpos AS (SELECT label, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS cv
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
        |  GROUP BY label, i),
        |cent AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM cpos GROUP BY label),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |adist AS (SELECT qid, qe, label,
        |    list_reduce(list_transform(generate_series(1, len(qe)),
        |      i -> (CAST(qe[i] AS DOUBLE) - centroid[i]) * (CAST(qe[i] AS DOUBLE) - centroid[i])),
        |      (x, y) -> x + y) AS cdist
        |  FROM q, cent),
        |assign AS (SELECT qid, qe, label AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cdist, label) AS rk
        |    FROM adist) WHERE rk = 1),
        |dists AS (SELECT qid, vec_id,
        |    list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> (CAST(embedding[i] AS DOUBLE) - CAST(qe[i] AS DOUBLE)) *
        |           (CAST(embedding[i] AS DOUBLE) - CAST(qe[i] AS DOUBLE))), (x, y) -> x + y) AS dist
        |  FROM embeddings JOIN assign ON label = cell AND vec_id <> qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk FROM dists)
        |SELECT qid, rk, vec_id, CAST(floor(dist * 10000) AS BIGINT) AS dist_c
        |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "ann_ivf_pq_topk" ->
      """WITH co AS (SELECT vec_id AS ccell, embedding AS cemb FROM embeddings
        |    WHERE vec_id < 8),
        |celld AS (SELECT e.vec_id, co.ccell,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(cemb[i] AS DOUBLE)) *
        |           (CAST(e.embedding[i] AS DOUBLE) - CAST(cemb[i] AS DOUBLE))),
        |      (x, y) -> x + y) AS cd
        |  FROM embeddings e, co),
        |cm AS (SELECT vec_id, min(cd) AS mc FROM celld GROUP BY vec_id),
        |cells AS (SELECT celld.vec_id, min(celld.ccell) AS cell
        |  FROM celld JOIN cm ON celld.vec_id = cm.vec_id AND celld.cd = cm.mc
        |  GROUP BY celld.vec_id),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |adist AS (SELECT qid, ccell,
        |    list_reduce(list_transform(generate_series(1, len(qe)),
        |      i -> (CAST(qe[i] AS DOUBLE) - CAST(cemb[i] AS DOUBLE)) *
        |           (CAST(qe[i] AS DOUBLE) - CAST(cemb[i] AS DOUBLE))),
        |      (x, y) -> x + y) AS cdist
        |  FROM q, co),
        |assign AS (SELECT qid, ccell AS pcell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cdist, ccell) AS rk
        |    FROM adist) WHERE rk <= 2),
        |su AS (SELECT unnest(generate_series(0, 15)) AS sub),
        |cb AS (SELECT su.sub, c.vec_id AS cid,
        |    c.embedding[su.sub * 4 + 1 : su.sub * 4 + 4] AS cslice
        |  FROM embeddings c, su WHERE c.vec_id < 64),
        |v AS (SELECT e.vec_id, su.sub,
        |    e.embedding[su.sub * 4 + 1 : su.sub * 4 + 4] AS vslice
        |  FROM embeddings e, su),
        |a AS (SELECT v.vec_id, v.sub, cb.cid,
        |    list_reduce(list_transform(generate_series(1, 4),
        |      i -> (CAST(vslice[i] AS DOUBLE) - CAST(cslice[i] AS DOUBLE)) *
        |           (CAST(vslice[i] AS DOUBLE) - CAST(cslice[i] AS DOUBLE))),
        |      (x, y) -> x + y) AS sqd
        |  FROM v JOIN cb ON v.sub = cb.sub),
        |m AS (SELECT vec_id, sub, min(sqd) AS ms FROM a GROUP BY vec_id, sub),
        |codes AS (SELECT a.vec_id, a.sub, min(a.cid) AS cid
        |  FROM a JOIN m ON a.vec_id = m.vec_id AND a.sub = m.sub AND a.sqd = m.ms
        |  GROUP BY a.vec_id, a.sub),
        |qsl AS (SELECT qid, su.sub, qe[su.sub * 4 + 1 : su.sub * 4 + 4] AS qslice
        |  FROM q, su),
        |dtab AS (SELECT qsl.qid, qsl.sub, cb.cid,
        |    CAST(floor(list_reduce(list_transform(generate_series(1, 4),
        |      i -> (CAST(qslice[i] AS DOUBLE) - CAST(cslice[i] AS DOUBLE)) *
        |           (CAST(qslice[i] AS DOUBLE) - CAST(cslice[i] AS DOUBLE))),
        |      (x, y) -> x + y) * 10000) AS BIGINT) AS dc
        |  FROM qsl JOIN cb ON qsl.sub = cb.sub),
        |adc AS (SELECT assign.qid, codes.vec_id, sum(dtab.dc) AS adc_c
        |  FROM codes JOIN cells ON codes.vec_id = cells.vec_id
        |  JOIN assign ON cells.cell = assign.pcell
        |    AND codes.vec_id <> assign.qid
        |  JOIN dtab ON dtab.qid = assign.qid AND dtab.sub = codes.sub
        |    AND dtab.cid = codes.cid
        |  GROUP BY assign.qid, codes.vec_id),
        |short AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_c, vec_id) AS ark
        |    FROM adc) WHERE ark <= 20),
        |rr AS (SELECT short.qid, short.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)) *
        |           (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))),
        |      (x, y) -> x + y) AS dist
        |  FROM short JOIN embeddings e ON short.vec_id = e.vec_id
        |  JOIN q ON short.qid = q.qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk
        |  FROM rr)
        |SELECT qid, rk, vec_id, CAST(floor(dist * 10000) AS BIGINT) AS dist_c
        |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "vec_prefix_rerank_topk" ->
      """WITH e AS (SELECT vec_id, gs AS pos,
        |    CAST(floor(CAST(embedding[gs] AS DOUBLE) * 10000) AS BIGINT) AS v
        |  FROM embeddings, generate_series(1, 64) AS t(gs)),
        |q AS (SELECT vec_id AS qid, pos, v FROM e WHERE vec_id < 5),
        |ps AS (SELECT e.vec_id, q.qid, sum((e.v - q.v) * (e.v - q.v)) AS psqd
        |  FROM e JOIN q ON e.pos = q.pos AND e.vec_id <> q.qid
        |  WHERE e.pos <= 32 GROUP BY e.vec_id, q.qid),
        |sl AS (SELECT qid, vec_id, psqd FROM (SELECT qid, vec_id, psqd,
        |    row_number() OVER (PARTITION BY qid ORDER BY psqd, vec_id) AS rk1
        |  FROM ps) t WHERE rk1 <= 100),
        |fs AS (SELECT sl.qid, sl.vec_id, sl.psqd,
        |    sum((e.v - q.v) * (e.v - q.v)) AS sqd
        |  FROM sl JOIN q ON q.qid = sl.qid
        |  JOIN e ON e.vec_id = sl.vec_id AND e.pos = q.pos
        |  GROUP BY sl.qid, sl.vec_id, sl.psqd)
        |SELECT qid, rk, vec_id, CAST(psqd AS BIGINT) AS psqd,
        |  CAST(sqd AS BIGINT) AS sqd
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY sqd, vec_id) AS rk FROM fs) t
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "text_langid" ->
      """WITH tok AS (SELECT DISTINCT doc_id, lang, unnest(str_split(text, ' ')) AS tk
        |             FROM documents),
        |freq AS (SELECT lang, tk, count(*) AS n FROM tok GROUP BY lang, tk),
        |prof AS (SELECT lang AS plang, list_sort(list(tk)) AS profile FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, tk) AS rk
        |    FROM freq) WHERE rk <= 20 GROUP BY lang),
        |docs AS (SELECT doc_id, lang, list(tk) AS tks FROM tok GROUP BY doc_id, lang),
        |scored AS (SELECT doc_id, lang, plang,
        |    len(list_intersect(tks, profile)) AS score
        |  FROM docs, prof),
        |best AS (SELECT doc_id, lang, plang FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rk
        |    FROM scored) WHERE rk = 1)
        |SELECT lang, plang AS predicted, count(*) AS n
        |FROM best GROUP BY lang, plang ORDER BY lang, predicted""".stripMargin,

    "text_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(str_split(text, ' '),
        |      x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tok, n_stop,
        |  CAST(floor((n_stop * 1.0 / n_tok) * 10000) AS BIGINT) AS stop_c,
        |  CAST(floor(((n_stop * 1.0 / n_tok) * 0.5 +
        |    ((length(text) - n_tok + 1) * 1.0 / n_tok) / 10.0 * 0.3 +
        |    least(n_tok * 1.0 / 100.0, 1.0) * 0.2) * 10000) AS BIGINT) AS score_c
        |FROM t ORDER BY doc_id""".stripMargin,

    "text_token_count" ->
      """SELECT lang,
        |  CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  list_aggregate(list_transform(generate_series(1, greatest(length(text) - 7, 1)),
        |    i -> md5(substr(text, i, 8))), 'min') AS fp_min,
        |  CAST(len(list_distinct(list_transform(generate_series(1, greatest(length(text) - 7, 1)),
        |    i -> md5(substr(text, i, 8))))) AS BIGINT) AS n_shingles,
        |  md5(text) AS fp_doc
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_decode_stub" ->
      """WITH t AS (SELECT doc_id, n_chars, md5(text) AS fp,
        |    octet_length(encode(text)) AS nbytes,
        |    lpad(regexp_replace(md5(text), '[a-f]', '', 'g'), 4, '0') AS digits
        |  FROM documents)
        |SELECT doc_id, CAST(nbytes AS BIGINT) AS nbytes, fp,
        |  (CAST(substr(digits, 1, 2) AS BIGINT) % 8 + 1) * 64 AS fake_w,
        |  (CAST(substr(digits, 3, 2) AS BIGINT) % 8 + 1) * 64 AS fake_h,
        |  n_chars % 30 + 1 AS n_frames
        |FROM t ORDER BY doc_id""".stripMargin,

    "multimodal_frame_sample" ->
      """WITH b AS (SELECT doc_id, md5(text) AS fp,
        |    n_chars % 30 + 1 AS n_frames FROM documents),
        |f AS (SELECT doc_id, fp, n_frames,
        |    unnest(generate_series(0, least(n_frames, 4) - 1)) AS k FROM b),
        |x AS (SELECT doc_id, n_frames, k,
        |    CASE WHEN n_frames <= 4 THEN k
        |         ELSE (k * n_frames) // 4 END AS frame_idx, fp
        |  FROM f)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(k AS BIGINT) AS k, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(fp || ':' || CAST(frame_idx AS VARCHAR)) AS frame_fp
        |FROM x ORDER BY doc_id, k""".stripMargin,

    "multimodal_resize_stub" ->
      """WITH t AS (SELECT doc_id,
        |    lpad(regexp_replace(md5(text), '[a-f]', '', 'g'), 4, '0') AS digits
        |  FROM documents),
        |w AS (SELECT doc_id,
        |    (CAST(substr(digits, 1, 2) AS BIGINT) % 8 + 1) * 64 AS fake_w,
        |    (CAST(substr(digits, 3, 2) AS BIGINT) % 8 + 1) * 64 AS fake_h
        |  FROM t)
        |SELECT doc_id, fake_w, fake_h,
        |  CAST((fake_w * 256) // greatest(fake_w, fake_h) AS BIGINT) AS new_w,
        |  CAST((fake_h * 256) // greatest(fake_w, fake_h) AS BIGINT) AS new_h
        |FROM w ORDER BY doc_id""".stripMargin
  )
}
