package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.QueryHygiene

import scala.util.Random

/** Adversarial exactness tests for the candidate-filtered dedup operators:
  * the prefix filter, PPJoin positional filter, and length-band join are
  * all EXACT optimizations — on any corpus they must produce byte-identical
  * pairs to a brute-force all-pairs Jaccard scan. The driver's oracle only
  * checks one fixed corpus; these tests generate corpora with planted
  * near-duplicates (random mutation rates, skewed token frequencies) and
  * compare against brute force computed in plain Scala.
  */
class DedupExactnessSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Generate a corpus with planted near-dup clusters, write it as a
    * documents.parquet the query functions can read, return (dir, docs). */
  private def corpus(seed: Int, nBase: Int, vocab: Int): (String, Seq[(Long, String, String)]) = {
    val rnd = new Random(seed)
    val langs = Seq("en", "de", "fr")
    def word() = s"w${rnd.nextInt(vocab)}"
    // skewed frequencies: token w0..w4 appear everywhere (hot tokens)
    def text(n: Int) =
      (Seq.fill(5)(s"w${rnd.nextInt(5)}") ++ Seq.fill(n)(word())).mkString(" ")
    val base = (0 until nBase).map { i =>
      (i.toLong * 10, text(10 + rnd.nextInt(30)), langs(rnd.nextInt(langs.length)))
    }
    // plant mutated near-dups of some docs (same lang, small edits)
    val mutants = base.filter(_ => rnd.nextDouble() < 0.4).map { case (id, t, l) =>
      val toks = t.split(" ").toSeq
      val mutated = toks.map(tk => if (rnd.nextDouble() < 0.1) word() else tk)
      (id + 1, mutated.mkString(" "), l)
    }
    val docs = base ++ mutants
    val dir = QueryHygiene.scratchDir("graft_dedup_exact", inMemory = false)
    docs.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'srcX' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (dir, docs)
  }

  /** Brute-force all-pairs reference; `score` mirrors each operator's
    * exact floating-point expression order (double rounding order matters
    * at floor boundaries). */
  private def brutePairs(docs: Seq[(Long, String, String)], tau: Double,
                         tokensOf: String => Set[String],
                         score: (Int, Int) => Long): Set[(Long, Long, Long)] = {
    val withTok = docs.map { case (id, t, l) => (id, l, t.length.toLong, tokensOf(t)) }
    (for {
      (d1, l1, c1, t1) <- withTok
      (d2, l2, c2, t2) <- withTok
      if d1 < d2 && l1 == l2 && math.abs(c1 - c2) <= 20
      shared = (t1 & t2).size
      union = (t1 ++ t2).size
      if union > 0 && shared.toDouble / union >= tau
    } yield (d1, d2, score(shared, union))).toSet
  }

  /** text_dedup_near: floor(shared * 10000.0 / union). */
  private val scoreNear: (Int, Int) => Long =
    (sh, un) => math.floor(sh * 10000.0 / un).toLong
  /** ngram/minhash: floor((shared * 1.0 / union) * 10000). */
  private val scoreRatio: (Int, Int) => Long =
    (sh, un) => math.floor((sh * 1.0 / un) * 10000).toLong

  /** Distinct token count of a corpus — used to assert WHICH adaptive
    * strategy a test corpus exercises (≤4096 → bitset, >4096 → prefix). */
  private def distinctTokens(docs: Seq[(Long, String, String)],
                             tokensOf: String => Set[String]): Int =
    docs.iterator.flatMap(d => tokensOf(d._2)).toSet.size

  test("text_dedup_near ≡ brute force on random planted corpora (both strategies)") {
    // small vocab → dense-bitset strategy; large vocab → prefix strategy
    for ((seed, nBase, vocab, wantPrefix) <- Seq((1, 60, 120, false), (2, 60, 120, false),
        (3, 60, 120, false), (4, 220, 9000, true))) {
      val (dir, docs) = corpus(seed, nBase, vocab)
      val nTok = distinctTokens(docs, _.split(" ").toSet)
      assert((nTok > 4096) === wantPrefix,
        s"seed $seed: corpus has $nTok tokens; does not exercise the intended strategy")
      val got = graft.ops.LlmOps.queries("text_dedup_near")(spark, dir)
        .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("jac_c"))).toSet
      val expected = brutePairs(docs, 0.5, t => t.split(" ").toSet, scoreNear)
      assert(got === expected, s"seed $seed: filtered result diverged from brute force")
      assert(expected.nonEmpty, s"seed $seed: test corpus planted no near-dups (weak test)")
    }
  }

  test("dedup_ngram_jaccard ≡ brute force (both strategies)") {
    def grams(t: String): Set[String] =
      (0 to t.length - 5).map(i => t.substring(i, i + 5)).toSet
    for ((seed, nBase, vocab, wantPrefix) <- Seq((11, 50, 100, false), (12, 50, 100, false),
        (13, 120, 9000, true))) {
      val (dir, docs) = corpus(seed, nBase, vocab)
      val nGrams = distinctTokens(docs, grams)
      assert((nGrams > 4096) === wantPrefix,
        s"seed $seed: corpus has $nGrams grams; does not exercise the intended strategy")
      val got = graft.ops.Pipeline.queries("dedup_ngram_jaccard")(spark, dir)
        .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("jac_c"))).toSet
      val expected = brutePairs(docs, 0.7, grams, scoreRatio)
      assert(got === expected, s"seed $seed: ngram pipeline diverged from brute force")
    }
  }

  test("dedup_minhash_lsh finds only true pairs and every banded candidate (no false positives)") {
    val (dir, docs) = corpus(21, nBase = 50, vocab = 100)
    val got = graft.ops.Pipeline.queries("dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("jac_c"))).toSet
    val allTrue = brutePairs(docs, 0.5, t => t.split(" ").toSet, scoreRatio)
    // LSH may MISS pairs (probabilistic recall) but must never emit a pair
    // below the threshold or with a wrong score — every emitted pair must
    // be a member of the exact answer set
    assert(got.subsetOf(allTrue),
      s"minhash emitted false positives: ${got -- allTrue}")
  }

  test("dedup_incremental ≡ the full LSH run restricted to new×old pairs") {
    val (dir, _) = corpus(33, nBase = 50, vocab = 100)
    val full = graft.ops.Pipeline.queries("dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("jac_c")))
    // normalize the full run's (d1 < d2) pairs to (new, old) orientation
    val expected = full.flatMap { case (a, b, j) =>
      (a % 5 == 0, b % 5 == 0) match {
        case (true, false) => Some((a, b, j))
        case (false, true) => Some((b, a, j))
        case _ => None // old×old and new×new pairs are out of scope
      }
    }.toSet
    val got = graft.ops.Pipeline.queries("dedup_incremental")(spark, dir)
      .collect().map(r => (r.getAs[Long]("d_new"), r.getAs[Long]("d_old"),
        r.getAs[Long]("jac_c"))).toSet
    assert(got === expected,
      "incremental must find exactly the full run's cross-batch pairs " +
        "(same bands, same collisions — just asymmetric sides)")
    got.foreach { case (dn, dold, _) =>
      assert(dn % 5 == 0 && dold % 5 != 0, s"side membership violated: ($dn, $dold)")
    }
  }

  test("minhash verify stage is collision-bounded: semi-pruned sets, shuffled twin identical") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    val (dir, _) = corpus(21, nBase = 50, vocab = 100)
    // 1. the default plan prunes the corpus-sized `sets` relation down to
    //    candidate doc ids BEFORE the pair join — two LeftSemi joins must
    //    appear in the physical plan (one per pair side)
    val lsh = graft.ops.Pipeline.queries("dedup_minhash_lsh")(spark, dir)
    val semis = lsh.queryExecution.sparkPlan.collect {
      case j: BaseJoinExec if j.joinType == LeftSemi => j
    }
    assert(semis.length >= 2,
      s"verify joins must semi-prune sets to candidate ids; plan has ${semis.length} " +
        s"LeftSemi joins:\n${lsh.queryExecution.sparkPlan}")
    // 2. the forced-shuffle twin takes shuffled hash joins for the verify
    //    stage (the at-scale shape when collisions outgrow a broadcast)...
    val twin = graft.ops.Pipeline.queries("dedup_minhash_shuffle")(spark, dir)
    val shuffled = twin.queryExecution.sparkPlan.collect {
      case j: ShuffledHashJoinExec if j.joinType == Inner => j
    }
    assert(shuffled.length >= 2,
      s"forced twin must plan shuffled verify joins:\n${twin.queryExecution.sparkPlan}")
    // 3. ...and emits byte-identical pairs
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("jac_c"))).toSeq
    assert(rows(twin) === rows(lsh), "shuffled twin diverged from broadcast-eligible plan")
  }
}
