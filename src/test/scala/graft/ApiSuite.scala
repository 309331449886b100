package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{Curation, Feeds}

/** Tests for the user-facing DataFrame API (graft.api) — the operators a
  * library adopter calls on their OWN tables, with their own column
  * names. The fixture query maps delegate to these, so the oracle gate
  * covers the semantics; this suite covers the API shape itself.
  */
class ApiSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def feed = Seq(
    // (eid, subj, kind)
    (1L, "s1", "put"), (2L, "s2", "put"), (3L, "s1", "put"),
    (4L, "s3", "put"), (5L, "s2", "del"), (6L, "s4", "put"), (3L, "s1", "put")
  ).toDF("eid", "subj", "kind")

  test("Feeds: scanAfter/page/latestOffset honor the cursor contract") {
    assert(Feeds.scanAfter(feed, col("eid"), lit(3L)).count() === 3)
    assert(Feeds.page(feed, col("eid"), lit(0L), 2)
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(Feeds.latestOffset(feed, col("eid")).collect().head.getLong(0) === 6L)
  }

  test("Feeds: dedup, compaction, and read model") {
    assert(Feeds.dedupById(feed, "eid").count() === 6)
    val compact = Feeds.compactLatest(Feeds.dedupById(feed, "eid"),
      col("subj"), col("eid"))
    assert(compact.count() === 4) // one row per subject
    assert(compact.filter(col("subj") === "s1").head().getLong(0) === 3L)
    val model = Feeds.readModel(Feeds.dedupById(feed, "eid"),
      col("subj"), col("eid"), col("kind") === "del")
    assert(model.count() === 3) // s2's latest is a tombstone
    assert(!model.collect().map(_.getString(1)).contains("s2"))
  }

  test("Feeds: mergeFeeds unions by name; seq-id codec round-trips") {
    val other = Seq((10L, "s9", "put")).toDF("eid", "subj", "kind")
    assert(Feeds.mergeFeeds(Seq(feed, other)).count() === 8)
    val enc = spark.range(5).select(
      Feeds.seqIdDecode(Feeds.seqIdEncode(col("id"), lit("sfx"))).as("back"))
    assert(enc.collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }

  test("Curation.nearDupPairs works on arbitrary column names") {
    val docs = Seq(
      (1L, "g", 10L, Seq("a", "b", "c", "d")),
      (2L, "g", 11L, Seq("a", "b", "c", "e")),  // J = 3/5 = 0.6 vs doc 1
      (3L, "g", 90L, Seq("a", "b", "c", "d")),  // outside length band
      (4L, "h", 10L, Seq("a", "b", "c", "d"))   // other group
    ).toDF("my_id", "my_grp", "my_len", "my_toks")
    val pairs = Curation.nearDupPairs(docs, col("my_id"), col("my_toks"),
        col("my_grp"), col("my_len"), tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs === Set((1L, 2L, 3L)))
  }

  test("Curation.nearDupPairs: shuffled fallback (tiny broadcast limit) agrees with broadcast path") {
    val docs = Seq(
      (1L, "g", 10L, Seq("a", "b", "c", "d")),
      (2L, "g", 11L, Seq("a", "b", "c", "e")),
      (5L, "g", 12L, Seq("a", "b", "c", "d", "e")),
      (9L, "h", 10L, Seq("x", "y", "z"))
    ).toDF("id", "grp", "len", "toks")
    def pairs(bcast: Long) = Curation.nearDupPairs(docs, col("id"), col("toks"),
        col("grp"), col("len"), tau = 0.5, broadcastRowLimit = bcast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBroadcast = pairs(1000000L)
    val viaShuffle = pairs(1L) // forces the non-broadcast band equi-join
    assert(viaShuffle === viaBroadcast)
    assert(viaBroadcast.nonEmpty)
  }

  test("Curation.sampleByHash keeps exactly the hash-selected rows") {
    val df = spark.range(1000).toDF("k")
    val sampled = Curation.sampleByHash(df, col("k"), Seq("0", "1", "2", "3"))
    val frac = sampled.count().toDouble / 1000
    assert(frac > 0.15 && frac < 0.35) // ~4/16 expected
    // deterministic: same rows every time
    assert(sampled.collect().map(_.getLong(0)).toSet ===
      Curation.sampleByHash(df, col("k"), Seq("0", "1", "2", "3"))
        .collect().map(_.getLong(0)).toSet)
  }

  test("Vectors: dot/norm/cosine/knn/cosineTopK on small known vectors") {
    import graft.api.Vectors
    val data = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f))
    ).toDF("vid", "emb")
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("qid", "qemb")
    // knn of (1,0): nearest is vid 1 (dist 0), then 3 (dist 1), then 2 (dist 2)
    val nn = Vectors.knn(data, col("vid"), col("emb"), q, col("qid"), col("qemb"), 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(nn.toSeq === Seq((1, 1L, 0.0), (2, 3L, 1.0), (3, 2L, 2.0)))
    // cosine top-2: vid 1 (cos 1), vid 3 (cos ~0.707)
    val top = Vectors.cosineTopK(data, col("vid"), col("emb"), q, col("qemb"), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(1L, 3L))
    // scalar helpers
    val r = data.filter(col("vid") === 3L)
      .select(Vectors.dot(col("emb"), col("emb")).as("d"),
        Vectors.norm(col("emb")).as("n")).head()
    assert(r.getDouble(0) === 2.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(2)) < 1e-12)
  }

  test("Vectors.knn ranks null/ragged vectors last, never as nearest") {
    import graft.api.Vectors
    val data = Seq(
      (1L, Some(Seq(1.0f, 0.0f))), (2L, Some(Seq(0.0f, 1.0f))),
      (3L, None),                       // null vector → null distance
      (4L, Some(Seq(2.0f)))             // ragged → null distance
    ).toDF("vid", "emb")
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("qid", "qemb")
    val nn = Vectors.knn(data, col("vid"), col("emb"), q, col("qid"), col("qemb"), 2)
      .collect().map(_.getLong(2)).toSeq
    assert(nn === Seq(1L, 2L), "null-distance rows must not displace real neighbors")
  }

  test("Curation.connectedComponents accepts non-long edge columns") {
    val got = Curation.connectedComponents(Seq((1, 2), (2, 3)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("Curation.decontaminate flags only overlapping docs") {
    val corpus = Seq((1L, "the quick brown fox jumps"),
      (2L, "completely different words here")).toDF("id", "txt")
    val bench = Seq((100L, "a quick brown fox ran")).toDF("bid", "btxt")
    val hits = Curation.decontaminate(corpus, col("id"), col("txt"),
        bench, col("bid"), col("btxt"), n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet === Set(1L))
    assert(hits(1L) === 1L)
  }

  test("Corpus.redact masks pattern hits and counts them") {
    val df = Seq((1L, "call 555 1234 now"), (2L, "no digits")).toDF("id", "body")
    val got = graft.api.Corpus.redact(df, col("body"), "[0-9]+", mask = "#")
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(got(1L) === (("call # # now", 2L)))
    assert(got(2L) === (("no digits", 0L)))
  }

  test("Corpus.redact treats $ and backslash in the mask as literals") {
    val df = Seq((1L, "card 1234 here")).toDF("id", "body")
    val got = graft.api.Corpus.redact(df, col("body"), "[0-9]+", mask = "$0\\")
      .collect().head.getString(2)
    assert(got === "card $0\\ here", "mask must never re-insert the matched text")
  }

  test("Corpus.packSequences never inverts the seq range on zero-token rows") {
    val df = Seq(("s", 1L, 128L), ("s", 2L, 0L), ("s", 3L, 10L))
      .toDF("strm", "oid", "toks")
    val got = graft.api.Corpus.packSequences(df, col("strm"), col("oid"),
        col("toks"), budget = 128)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val (_, f2, l2) = got(2L) // empty doc exactly on the boundary
    assert(f2 === 1L && l2 === 1L, "zero-token row must report seq_last >= seq_first")
    assert(got(3L) === ((128L, 1L, 1L)))
  }

  test("Corpus.packSequences works on arbitrary stream/order columns") {
    val df = Seq(("s", 1L, 100L), ("s", 2L, 50L), ("t", 3L, 200L))
      .toDF("strm", "oid", "toks")
    val got = graft.api.Corpus.packSequences(df, col("strm"), col("oid"),
        col("toks"), budget = 128)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) === ((0L, 0L, 0L)))     // tokens [0,100) → seq 0
    assert(got(2L) === ((100L, 0L, 1L)))   // [100,150) straddles seqs 0-1
    assert(got(3L) === ((0L, 0L, 1L)))     // new stream restarts at offset 0
  }

  test("Corpus.srpLshPairs finds identical vectors regardless of labels") {
    val v = (1 to 8).map(_.toFloat)
    val df = Seq((10L, v), (20L, v), (30L, v.map(-_)))
      .toDF("my_id", "my_vec")
    val got = graft.api.Corpus.srpLshPairs(df, col("my_id"), col("my_vec"),
        dim = 8, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // identical vectors share every band; the negated one shares none
    assert(got.toSet === Set((10L, 20L)))
    assert(got.length === 1, "pair must surface at exactly one band")
  }

  test("Corpus internals never clobber same-named caller columns") {
    // caller columns named like plausible internals must survive intact
    val packed = graft.api.Corpus.packSequences(
      Seq(("s", 1L, 10L, "keepme")).toDF("strm", "oid", "toks", "cum"),
      col("strm"), col("oid"), col("toks"), budget = 128)
    assert(packed.collect().head.getAs[String]("cum") === "keepme")
    val shuffled = graft.api.Corpus.shuffleOrder(
      Seq((1L, "keepme"), (2L, "metoo")).toDF("id", "bkt"), col("id"))
    assert(shuffled.columns.contains("bkt"))
    assert(shuffled.collect().map(_.getAs[String]("bkt")).toSet === Set("keepme", "metoo"))
  }

  test("Corpus.shuffleOrder excludes null ids and still yields positions 1..N") {
    val df = Seq(Some(10L), None, Some(20L), Some(30L))
      .toDF("id")
    val got = graft.api.Corpus.shuffleOrder(df, col("id"))
      .collect().map(_.getLong(1)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L), "positions must be contiguous from 1")
  }

  test("Corpus.quantizeInt8 bounds and checksums") {
    val df = Seq((1L, Seq(2.0f, -1.0f, 0.5f))).toDF("id", "v")
    val r = graft.api.Corpus.quantizeInt8(df, col("v")).collect().head
    val qs = r.getSeq[Long](3)
    assert(qs === Seq(127L, -64L, 31L)) // floor(x*127/2)
    assert(r.getLong(4) === qs.sum)
    assert(r.getLong(5) === 1L)
  }
}
