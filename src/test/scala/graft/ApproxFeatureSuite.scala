package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Brute-force invariants for the round-6 §2.45 batch (ApproxOps,
  * FeatureEngOps) on the sf0.001 fixture.
  */
class ApproxFeatureSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir
  import spark.implicits._

  test("sketch_bloom_fpr: no false negatives possible, FPR near theory") {
    val Array((nm, np, nfp, ppm)) =
      SparkEntry.queries("sketch_bloom_fpr")(spark, d)
        .select("n_members", "n_probes", "n_fp", "fpr_ppm")
        .as[(Long, Long, Long, Long)].collect()
    assert(nm > 0 && np > 0)
    assert(ppm == nfp * 1000000L / np)
    // members + probes partition the part table
    val nParts = Tables.part(spark, d).count()
    assert(nm + np == nParts)
    // measured FPR within 5× of the theoretical (1 - e^{-kn/m})^k
    val theory = math.pow(1 - math.exp(-3.0 * nm / 16384.0), 3)
    assert(nfp.toDouble / np <= math.max(theory * 5, 0.01),
      s"FPR ${nfp.toDouble / np} vs theory $theory")
  }

  test("eval_pr_auc ≡ brute-force average precision at bucket granularity") {
    val got = SparkEntry.queries("eval_pr_auc")(spark, d)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val scored = Tables.embeddings(spark, d)
      .select(floor(element_at($"embedding", 1).cast("double") * 10000)
        .cast("long"), $"label".cast("long"))
      .as[(Long, Long)].collect()
    got.keys.foreach { label =>
      val byBucket = scored.groupBy(_._1).toSeq.sortBy(-_._1)
        .map { case (s, rs) => (s, rs.length.toLong,
          rs.count(_._2 == label).toLong) }
      var tp = 0L; var seen = 0L; var apNum = 0L
      byBucket.foreach { case (_, nb, np) =>
        tp += np; seen += nb
        apNum += np * (tp * 1000000L / seen)
      }
      val p = byBucket.map(_._3).sum
      assert(got(label) == ((p, apNum / p)), s"label $label")
    }
  }

  test("eval_mrr: reciprocal ranks bounded and consistent with ndcg panel") {
    val rows = SparkEntry.queries("eval_mrr")(spark, d)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum == Tables.embeddings(spark, d)
      .filter($"vec_id" < 500).count())
    rows.foreach { case (_, _, mrr) => assert(mrr >= 0 && mrr <= 1000000L) }
  }

  test("ts_crosscorr_types: symmetric in sign at lag 0 vs brute-force") {
    val rows = SparkEntry.queries("ts_crosscorr_types")(spark, d)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        (r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
      .toMap
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, d)
      .groupBy($"event_type", expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    rows.foreach { case ((ta, tb, lag), (n, rc)) =>
      val a = daily(ta); val b = daily(tb)
      val pairs = a.toSeq.flatMap { case (day, xa) =>
        b.get(day + lag).map(xb => (xa, xb)) }
      assert(n == pairs.length.toLong, s"($ta,$tb,$lag)")
      if (rc.isDefined) {
        val nn = pairs.length.toLong
        val sa = pairs.map(_._1).sum; val sb = pairs.map(_._2).sum
        val saa = pairs.map(p => p._1 * p._1).sum
        val sbb = pairs.map(p => p._2 * p._2).sum
        val sab = pairs.map(p => p._1 * p._2).sum
        val want = math.floor((nn * sab - sa * sb).toDouble /
          (math.sqrt((nn * saa - sa * sa).toDouble) *
            math.sqrt((nn * sbb - sb * sb).toDouble)) * 100).toLong
        assert(rc.contains(want), s"($ta,$tb,$lag)")
      }
    }
  }

  test("ts_burstiness_fano ≡ brute-force variance-over-mean") {
    val rows = SparkEntry.queries("ts_burstiness_fano")(spark, d)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, d)
      .groupBy($"event_type", expr("ts_us div 86400000000"))
      .agg(count(lit(1)).as("x"))
      .as[(String, Long, Long)].collect().groupBy(_._1)
    rows.foreach { case (t, nd, meanC, fanoC) =>
      val xs = daily(t).map(_._3)
      val n = xs.length.toLong; val sx = xs.sum
      val sxx = xs.map(x => x * x).sum
      assert(nd == n)
      assert(meanC == sx * 100 / n)
      assert(fanoC == Math.floorDiv((n * sxx - sx * sx) * 100, n * sx))
    }
  }

  test("feature_target_encode: smoothing pulls small cells toward the prior") {
    val rows = SparkEntry.queries("feature_target_encode")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val gn = rows.map(_._2).sum; val gr = rows.map(_._3).sum
    val priorPpm = gr * 1000000L / gn
    rows.foreach { case (b, n, r, raw, sm) =>
      assert(raw == r * 1000000L / n)
      assert(sm == (r * gn + 10L * gr) * 1000000L / ((n + 10L) * gn), s"brand $b")
      // smoothed lies between raw and the prior (integer-div tolerance 1)
      assert(sm >= math.min(raw, priorPpm) - 1 && sm <= math.max(raw, priorPpm) + 1)
    }
  }

  test("feature_scale_minmax: scaled means inside [0, 1e6]; ranges exact") {
    val rows = SparkEntry.queries("feature_scale_minmax")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val v = Tables.events(spark, d)
      .select($"event_type", floor($"value" * 10000).cast("long"))
      .as[(String, Long)].collect().groupBy(_._1)
    rows.foreach { case (t, mn, mx, n, mean) =>
      val xs = v(t).map(_._2)
      assert(mn == xs.min && mx == xs.max && n == xs.length.toLong)
      assert(mean >= 0 && mean <= 1000000L)
      val want = xs.map(x => (x - mn) * 1000000L / math.max(mx - mn, 1L)).sum / n
      assert(mean == want)
    }
  }

  test("feature_hash_bucket: instances total the token count; buckets in range") {
    val rows = SparkEntry.queries("feature_hash_bucket")(spark, d)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (b, nt, ni) =>
      assert(b >= 0 && b < 256); assert(nt <= ni) }
    val total = Tables.documents(spark, d)
      .select(explode(split($"text", " ")).as("tk"))
      .filter(length($"tk") > 0).count()
    assert(rows.map(_._3).sum == total)
  }

  test("session_bounce_stats: sessions total sessionize_ids; bounces are 1-event") {
    val rows = SparkEntry.queries("session_bounce_stats")(spark, d)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val sess = SparkEntry.queries("sessionize_ids")(spark, d)
      .select("n_events").as[Long].collect()
    assert(rows.map(_._2).sum == sess.length.toLong)
    assert(rows.map(_._3).sum == sess.count(_ == 1L).toLong)
    rows.foreach { case (_, n, b, ppm) =>
      assert(b <= n && ppm == b * 1000000L / n) }
  }

  test("corr_spearman ≡ brute-force centered-midrank Pearson") {
    val Array((n, rho)) = SparkEntry.queries("corr_spearman")(spark, d)
      .as[(Long, Long)].collect()
    val rows = Tables.lineitem(spark, d)
      .select(floor($"l_quantity").cast("long"),
        expr("CAST(floor(l_extendedprice) AS BIGINT) div 100"))
      .as[(Long, Long)].collect()
    assert(n == rows.length.toLong)
    def ranks(vs: Array[Long]): Map[Long, Long] = {
      val h = vs.groupBy(identity).view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
      var cum = 0L
      h.map { case (v, nb) =>
        val r = 2 * cum + nb - vs.length; cum += nb; v -> r }.toMap
    }
    val rx = ranks(rows.map(_._1)); val ry = ranks(rows.map(_._2))
    val (sxx, syy, sxy) = rows.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y)) =>
      (a + rx(x) * rx(x), b + ry(y) * ry(y), c + rx(x) * ry(y)) }
    val want = math.floor(sxy.toDouble /
      (math.sqrt(sxx.toDouble) * math.sqrt(syy.toDouble)) * 10000).toLong
    assert(rho == want)
    // a valid correlation is bounded (synthetic price is independent of
    // quantity here, so the value itself sits near 0)
    assert(rho >= -10000 && rho <= 10000)
  }

  /** corr_spearman as it was planned before the cell histogram: one
    * range-partitioned [[graft.api.Histograms.cumulativeFold]] per axis,
    * both midrank maps broadcast back over the data rows. */
  private def spearmanByFolds(lineitem: org.apache.spark.sql.DataFrame) = {
    import graft.api.Histograms.{CumSpec, cumulativeFold}
    val rows = lineitem.select(
      floor(col("l_quantity")).cast("long").as("x"),
      expr("CAST(floor(l_extendedprice) AS BIGINT) div 100").as("y"))
    def midranks(c: String) =
      cumulativeFold(rows.groupBy(c).agg(count(lit(1)).as("nb")), col(c),
          Seq(CumSpec(col("nb"), "cum_lt", Some("ntot"))))
        .select(col(c), (lit(2L) * col("cum_lt") + col("nb") - col("ntot"))
          .cast("decimal(19,0)").as(s"r2$c"))
    def moment(a: String, b: String) = sum((col(a) * col(b)).cast("decimal(38,0)"))
    rows.join(broadcast(midranks("x")), "x").join(broadcast(midranks("y")), "y")
      .agg(count(lit(1)).as("n"), moment("r2x", "r2x").as("sxx"),
        moment("r2y", "r2y").as("syy"), moment("r2x", "r2y").as("sxy"))
      .select(col("n"),
        when(col("sxx") > 0 && col("syy") > 0,
          floor(col("sxy").cast("double") /
            (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double")))
            * lit(10000.0)).cast("long")).as("rho_c"))
  }

  test("corr_spearman cell histogram ≡ the two-fold plan on ties, nulls and degenerate inputs") {
    def lineitem(rows: Seq[(Option[Double], Option[Double])]) =
      rows.toDF("l_quantity", "l_extendedprice")
    val rnd = new scala.util.Random(11)
    // 3 quantities × 4 price buckets, skewed so the ranks correlate
    val ties = (1 to 400).map { i =>
      val q = 1 + i % 3
      (Some(q + rnd.nextDouble()), Some(100.0 * (q + rnd.nextInt(2)) + rnd.nextInt(100)))
    }
    val nulls = ties.zipWithIndex.map {
      case ((_, p), i) if i % 7 == 0 => (None, p)
      case ((q, _), i) if i % 11 == 0 => (q, None)
      case (r, _) => r
    }
    val oneQuantity = ties.map { case (_, p) => (Some(5.5), p) }
    val cases = Seq("ties" -> ties, "nulls" -> nulls, "one quantity" -> oneQuantity,
      "empty" -> Seq.empty[(Option[Double], Option[Double])])
    val got = cases.map { case (name, rows) =>
      val li = lineitem(rows)
      val (want, have) = (spearmanByFolds(li).collect().toSeq,
        graft.ops.RobustOps.spearman(li).collect().toSeq)
      assert(have == want, name)
      name -> have.head
    }.toMap
    val nonNull = nulls.count { case (q, p) => q.isDefined && p.isDefined }
    assert(got("nulls").getLong(0) == nonNull, "a row with a null axis is not ranked")
    assert(!got("ties").isNullAt(1) && got("ties").getLong(1) > 0)
    assert(got("one quantity").isNullAt(1), "no spread on x: rho_c is null")
    assert(got("empty").getLong(0) == 0L && got("empty").isNullAt(1))
  }

  test("feature_bin_quantile: bins partition orders, ranges ordered, sizes near N/10") {
    val rows = SparkEntry.queries("feature_bin_quantile")(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    val total = Tables.orders(spark, d).count()
    assert(rows.map(_._2).sum == total)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3 || a._4 <= b._3, "ranges ordered")
      case _ => ()
    }
    // each decile within a heavy-bucket of the ideal size
    val maxBucket = Tables.orders(spark, d)
      .groupBy(expr("CAST(floor(o_totalprice) AS BIGINT) div 1000"))
      .count().agg(max("count")).as[Long].collect().head
    rows.foreach { case (_, nOrd, _, _) =>
      assert(nOrd <= total / 10 + maxBucket) }
  }

  test("lm_greedy_decode ≡ brute-force argmax bigram chain") {
    val got = SparkEntry.queries("lm_greedy_decode")(spark, d)
      .as[(Long, String, Long)].collect()
    assert(got.nonEmpty && got.head._1 == 1L)
    val bi = Tables.documents(spark, d).select("text").as[String].collect()
      .flatMap { t =>
        val ws = t.split(" ")
        if (ws.length >= 2) ws.zip(ws.tail) else Array.empty[(String, String)]
      }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val heads = bi.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum)
    val start = heads.toSeq.sortBy { case (w, c) => (-c, w) }.head
    assert(got.head._2 == start._1 && got.head._3 == start._2)
    var cur = start._1
    got.drop(1).foreach { case (_, tok, c) =>
      val cands = bi.collect { case ((w1, w2), n) if w1 == cur => (w2, n) }
      val best = cands.toSeq.sortBy { case (w, n) => (-n, w) }.head
      assert(tok == best._1 && c == best._2)
      cur = tok
    }
  }

  test("stream_twap_state ≡ brute-force interval accounting over the replay window") {
    val got = SparkEntry.queries("stream_twap_state")(spark, d)
      .select("event_type", "n_intervals", "twap_c")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val ev = Tables.events(spark, d).filter($"event_id" < 20000)
      .select($"event_type", $"ts_us", $"event_id",
        floor($"value" * 10000).cast("long"))
      .as[(String, Long, Long, Long)].collect()
    ev.groupBy(_._1).foreach { case (t, es) =>
      val s2 = es.sortBy(e => (e._2, e._3))
      val iv = s2.zip(s2.tail).map { case (a, b) => (a._4, b._2 - a._2) }
      assert(got(t) == ((iv.length.toLong,
        Math.floorDiv(iv.map(x => x._1 * x._2).sum, iv.map(_._2).sum))), s"type $t")
    }
  }

  test("stream_rate_alert: trailing windows have 6 predecessors; alerts match rule") {
    val rows = SparkEntry.queries("stream_rate_alert")(spark, d)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val hourly = Tables.events(spark, d).filter($"event_id" < 20000)
      .groupBy(expr("ts_us div 3600000000").as("h"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(t => t._1 -> t._3).toSeq.sortBy(_._1)).toMap
    rows.foreach { case (winUs, t, n, trail, alert) =>
      val series = hourly(t)
      val idx = series.indexWhere(_._1 == winUs / 3600000000L)
      assert(idx >= 6, "needs 6 preceding present windows")
      assert(n == series(idx)._2)
      assert(trail == series.slice(idx - 6, idx).map(_._2).sum)
      assert(alert == (if (n * 600 > trail * 250) 1L else 0L))
    }
  }

  test("write_partitioned_roundtrip ≡ direct aggregation (layout changes nothing)") {
    val got = SparkEntry.queries("write_partitioned_roundtrip")(spark, d)
      .as[(String, Long, Long)].collect().toSet
    val want = Tables.events(spark, d).filter($"event_id" < 20000)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value" * 10000).cast("long")).as("v"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("udaf_reservoir_sample ≡ brute-force A-Res top-20 per source") {
    val got = SparkEntry.queries("udaf_reservoir_sample")(spark, d)
      .select("source", "rk", "doc_id", "pri_c")
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, d).select("source", "doc_id", "n_chars")
      .as[(String, Long, Long)].collect()
    val brute = docs.map { case (src, id, w) =>
      (src, id, graft.ops.UdafOps.aresPriority(id, w)) }
      .groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2)).take(20)).toMap
    got.groupBy(_._1).foreach { case (src, rows) =>
      val want = brute(src)
      assert(rows.length == math.min(20, want.length))
      rows.sortBy(_._2).zip(want).foreach { case ((_, _, id, priC), (_, wid, wpri)) =>
        assert(id == wid, s"source $src")
        assert(priC == math.floor(wpri * 1e8).toLong)
      }
    }
  }

  test("stats_moments_merge ≡ direct global moments (merge is lossless)") {
    val got = SparkEntry.queries("stats_moments_merge")(spark, d)
      .select("event_type", "n", "mean_c", "var_vc2")
      .as[(String, Long, Long, Long)].collect()
    val vs = Tables.events(spark, d)
      .select($"event_type", floor($"value" * 100).cast("long"))
      .as[(String, Long)].collect().groupBy(_._1)
    got.foreach { case (t, n, mean, varr) =>
      val xs = vs(t).map(_._2)
      val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
      assert(n == xs.length.toLong)
      assert(mean == s1 / n)
      assert(varr == (n * s2 - s1 * s1) / (n * n))
      assert(varr >= 0)
    }
  }

  test("feed_page_manifest: pages tile the window; checksums match driver md5") {
    val rows = SparkEntry.queries("feed_page_manifest")(spark, d)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    val ids = Tables.events(spark, d).filter($"event_id" < 20000)
      .select("event_id").as[Long].collect().sorted
    assert(rows.map(_._2).sum == ids.length.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (page, n, mn, mx, ck) =>
      val pageIds = ids.filter(_ / 100 == page)
      assert(n == pageIds.length.toLong && mn == pageIds.min && mx == pageIds.max)
      val want = md.digest(pageIds.mkString(",").getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      assert(ck == want, s"page $page checksum")
    }
  }

  test("stream_bloom_route: counts tile the replay window; membership has no false negatives") {
    val rows = SparkEntry.queries("stream_bloom_route")(spark, d)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    val bound = Tables.events(spark, d).filter($"event_id" < 20000).count()
    assert(rows.map(_._3).sum == bound)
    // true members (user_id ∈ BUILDING custkeys) must always route as
    // probable members (Bloom filters have no false negatives)
    val memberKeys = Tables.customer(spark, d)
      .filter($"c_mktsegment" === "BUILDING").select("c_custkey")
      .as[Long].collect().toSet
    val trueMemberEvents = Tables.events(spark, d)
      .filter($"event_id" < 20000)
      .select("event_type", "user_id").as[(String, Long)].collect()
      .filter(e => memberKeys(e._2))
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val routedIn = rows.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    trueMemberEvents.foreach { case (t, n) =>
      assert(routedIn.getOrElse(t, 0L) >= n,
        s"type $t: $n true members must all route as probable") }
  }

  test("ts_resample_interpolate ≡ brute-force linear interpolation; agrees with ffill on present hours") {
    val rows = SparkEntry.queries("ts_resample_interpolate")(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val hr = Tables.events(spark, d).filter($"user_id" < 10)
      .select($"user_id", $"ts_us", $"event_id",
        floor($"value" * 10000).cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(e => (e._1, e._2 / 3600000000L))
      .map { case ((u, h), es) => (u, h) -> es.maxBy(e => (e._2, e._3))._4 }
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val present = hr.collect { case ((uu, h), v) if uu == u => (h, v) }
        .toSeq.sortBy(_._1)
      rs.foreach { case (_, h, filled, gap) =>
        present.find(_._1 == h) match {
          case Some((_, v)) => assert(gap == 0 && filled == v)
          case None =>
            val (hp, vp) = present.filter(_._1 < h).maxBy(_._1)
            val (hn, vn) = present.filter(_._1 > h).minBy(_._1)
            val want = vp + math.floor(
              ((vn - vp) * (h - hp)).toDouble / (hn - hp)).toLong
            assert(gap == 1 && filled == want, s"user $u hour $h")
        }
      }
    }
  }

  test("graph_pagerank_personalized ≡ brute-force 3-step sparse PPR") {
    val got = SparkEntry.queries("graph_pagerank_personalized")(spark, d)
      .as[(Long, Long)].collect()
    assert(got.nonEmpty)
    val li = Tables.lineitem(spark, d).select("l_orderkey", "l_partkey")
      .as[(Long, Long)].collect().distinct
    val adj = li.groupBy(_._1).values.toSeq.flatMap { items =>
      val ps = items.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = Seq(1L, 2L, 3L).filter(adj.contains)
    var r: Map[Long, Long] = seeds.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val spread = scala.collection.mutable.Map[Long, Long]()
      r.foreach { case (u, ru) =>
        val ns = adj(u); val c = ru / ns.size
        ns.foreach(v => spread(v) = spread.getOrElse(v, 0L) + c)
      }
      val nxt = spread.map { case (u, sc) => u -> sc * 85 / 100 }
      r = (nxt.toSeq ++ seeds.map(_ -> 150000L))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    }
    val want = r.toSeq.sortBy { case (u, s) => (-s, u) }.take(30)
    assert(got.toSeq == want)
  }

  test("text_sentence_stats ≡ brute-force sentence splitting") {
    val rows = SparkEntry.queries("text_sentence_stats")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, d).select("source", "text")
      .as[(String, String)].collect()
    rows.foreach { case (src, nDocs, nSent, spd, mlen) =>
      val g = docs.filter(_._1 == src)
      val sents = g.map(_._2.split("[.!?]+").map(_.trim).filter(_.nonEmpty))
      assert(nDocs == g.length.toLong)
      assert(nSent == sents.map(_.length.toLong).sum)
      assert(spd == nSent * 1000000L / nDocs)
      assert(mlen == sents.flatMap(_.map(_.length.toLong)).sum * 100 / nSent)
    }
  }

  test("stream_kmv_state ≡ brute-force 32-minima sketch over the replay window") {
    val got = SparkEntry.queries("stream_kmv_state")(spark, d)
      .as[(String, Long)].collect().toMap
    val dist = Tables.events(spark, d).filter($"event_id" < 20000)
      .select("event_type", "user_id").distinct()
      .as[(String, Long)].collect()
    dist.groupBy(_._1).foreach { case (t, us) =>
      val mins = us.map(_._2).distinct
        .map(id => ((graft.ops.UdafOps.idHash24(id) + 1).toDouble / 16777217.0, id))
        .sortBy(x => (x._1, x._2)).take(32)
      val est = if (mins.length < 32) mins.length.toDouble else 31.0 / mins.last._1
      assert(got(t) == math.floor(est * 100).toLong, s"type $t")
    }
  }

  test("active_users_dau_wau: DAU ≤ WAU ≤ MAU; WAU ≡ brute-force trailing-7 distinct") {
    val rows = SparkEntry.queries("active_users_dau_wau")(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val ud = Tables.events(spark, d)
      .select($"user_id", expr("ts_us div 86400000000").as("day")).distinct()
      .as[(Long, Long)].collect()
    rows.foreach { case (day, dau, wau, mau) =>
      assert(dau <= wau && wau <= mau)
      assert(dau == ud.count(_._2 == day).toLong)
      assert(wau == ud.filter(u => u._2 >= day - 6 && u._2 <= day)
        .map(_._1).distinct.length.toLong, s"day $day")
      assert(mau == ud.filter(u => u._2 >= day - 29 && u._2 <= day)
        .map(_._1).distinct.length.toLong, s"day $day")
    }
  }

  test("ts_rolling_correlation ≡ brute-force windowed Pearson") {
    val rows = SparkEntry.queries("ts_rolling_correlation")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, d)
      .filter($"event_type".isin("click", "purchase"))
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    rows.zipWithIndex.foreach { case ((day, nw, rc), i) =>
      assert(day == daily(i)._1)
      val wind = daily.slice(math.max(0, i - 13), i + 1)
      assert(nw == wind.length.toLong)
      if (rc.isDefined) {
        val n = wind.length.toLong
        val sx = wind.map(_._2).sum; val sy = wind.map(_._3).sum
        val sxx = wind.map(w => w._2 * w._2).sum
        val syy = wind.map(w => w._3 * w._3).sum
        val sxy = wind.map(w => w._2 * w._3).sum
        val want = math.floor((n * sxy - sx * sy).toDouble /
          (math.sqrt((n * sxx - sx * sx).toDouble) *
            math.sqrt((n * syy - sy * sy).toDouble)) * 100).toLong
        assert(rc.contains(want), s"day $day")
      }
    }
  }

  test("join_dpp_prune ≡ direct filtered aggregation (pruning changes nothing)") {
    val got = SparkEntry.queries("join_dpp_prune")(spark, d)
      .as[(String, Long, Long, Long)].collect().toSet
    val want = Tables.events(spark, d)
      .filter($"event_id" < 20000 && $"event_type".isin("click", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value" * 10000).cast("long")).as("v"),
        length($"event_type").cast("long").as("w"))
      .select($"event_type", $"n", $"v", $"w")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want && got.size == 2)
  }

  test("markov_stationary_step: mass conserved up to floor loss; brute-force equal") {
    val got = SparkEntry.queries("markov_stationary_step")(spark, d)
      .as[(String, Long)].collect().toMap
    assert(got.nonEmpty)
    // brute-force the transition matrix and 4 power steps
    val ev = Tables.events(spark, d)
      .select($"user_id", $"ts_us", $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val trans = ev.groupBy(_._1).values.toSeq.flatMap { es =>
      val s2 = es.sortBy(e => (e._2, e._3)).map(_._4)
      s2.zip(s2.tail)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = trans.keys.map(_._1).toSeq.distinct
    val rowTot = rows.map(i => i ->
      trans.collect { case ((a, _), c) if a == i => c }.sum).toMap
    var pi = rows.map(_ -> 1000000L / rows.length).toMap
    for (_ <- 1 to 4) {
      val next = scala.collection.mutable.Map[String, Long]()
      trans.foreach { case ((i, j), c) =>
        next(j) = next.getOrElse(j, 0L) + pi(i) * c / rowTot(i) }
      pi = next.toMap
    }
    assert(got == pi)
    // floor losses only shrink the mass, and only slightly
    val mass = got.values.sum
    assert(mass <= 1000000L && mass >= 1000000L - 1000L)
  }

  test("source_schema_evolution: v1 generation surfaces NULL flags, counts split") {
    val rows = SparkEntry.queries("source_schema_evolution")(spark, d)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows.keySet == Set("v1", "v2"))
    assert(rows("v1")._4 == 0, "v1 files must read the new column as NULL")
    assert(rows("v2")._4 > 0)
    val b = Tables.lineitem(spark, d).select("l_orderkey").as[Long].collect()
    assert(rows("v1")._2 == b.count(_ % 100 == 0).toLong)
    assert(rows("v2")._2 == b.count(_ % 100 == 50).toLong)
  }

  test("join_inner_merge ≡ join_inner_hash, with a SortMergeJoin plan") {
    val hash = SparkEntry.queries("join_inner_hash")(spark, d).collect()
    val merge = SparkEntry.queries("join_inner_merge")(spark, d)
    assert(merge.collect().map(_.toSeq).toSeq == hash.map(_.toSeq).toSeq)
    val plan = merge.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), "merge hint must force SMJ")
    assert(!plan.contains("BroadcastHashJoin"))
  }

  test("agg_hll_deterministic ≡ brute-force register recomputation; sane estimate") {
    val got = SparkEntry.queries("agg_hll_deterministic")(spark, d)
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    val ev = Tables.events(spark, d).select("event_type", "user_id")
      .as[(String, Long)].collect().distinct
    got.foreach { case (t, nExact, estC) =>
      val users = ev.filter(_._1 == t).map(_._2).distinct
      assert(nExact == users.length.toLong)
      val regs = scala.collection.mutable.Map[Long, Long]()
      users.foreach { id =>
        val h = graft.ops.UdafOps.idHash24(id)
        val b = h % 64; val w = h / 64
        val rho = if (w == 0) 19L else 18L - (63 - java.lang.Long.numberOfLeadingZeros(w))
        regs(b) = math.max(regs.getOrElse(b, 0L), rho)
      }
      val sHit = regs.values.map(r => 1.0 / math.pow(2.0, r.toDouble)).sum
      val s2 = sHit + (64 - regs.size).toDouble
      val raw = 0.709 * 4096.0 / s2
      val est = if (regs.size < 64 && raw <= 160.0)
        64.0 * math.log(64.0 / (64 - regs.size).toDouble) else raw
      assert(estC == math.floor(est * 100).toLong, s"type $t")
      // estimator sanity (LC at small n, raw above): within 45%
      assert(math.abs(est - nExact) / nExact < 0.45, s"type $t est $est vs $nExact")
    }
  }

  test("text_freq_spectrum: bands partition the bigram vocabulary; tail exists") {
    val rows = SparkEntry.queries("text_freq_spectrum")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val bigrams = Tables.documents(spark, d).select("text").as[String].collect()
      .flatMap { t =>
        val ws = t.split(" ")
        if (ws.length >= 2) ws.zip(ws.tail).map(p => p._1 + " " + p._2)
        else Array.empty[String]
      }
    val vocab = bigrams.groupBy(identity).view.mapValues(_.length.toLong)
    assert(rows.map(_._2).sum == vocab.size.toLong, "bands partition the vocab")
    assert(rows.map(_._3).sum == bigrams.length.toLong, "instances total")
    rows.foreach { case (band, _, _, mn, mx) =>
      if (band.startsWith("1e")) {
        val digits = band.drop(2).toInt + 1
        assert(mn.toString.length == digits && mx.toString.length == digits)
      } else assert(mn == band.toLong && mx == band.toLong)
    }
    assert(rows.exists(_._1 == "1"), "a rare tail (hapax bigrams) must exist")
  }

  test("subquery_not_in_null: NOT IN with NULL list is empty; NOT EXISTS is not") {
    val got = SparkEntry.queries("subquery_not_in_null")(spark, d)
      .as[(String, Long)].collect().toMap
    assert(got("not_in") == 0, "NOT IN over a NULL-bearing list can never be TRUE")
    // brute-force the NOT EXISTS side
    val cust = Tables.customer(spark, d).select("c_custkey").as[Long].collect()
    val o99 = Tables.orders(spark, d)
      .filter($"o_orderdate" >= lit("1999-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("2000-01-01").cast("timestamp"))
      .select("o_custkey").as[Long].collect().toSet
    assert(got("not_exists") == cust.count(c => !o99(c)).toLong)
    assert(got("not_exists") > 0, "the probe set must be nonempty to demonstrate")
  }

  test("sketch_hll_merge ≡ agg_hll_deterministic (max-merge is lossless)") {
    val direct = SparkEntry.queries("agg_hll_deterministic")(spark, d)
      .collect().map(_.toSeq)
    val merged = SparkEntry.queries("sketch_hll_merge")(spark, d)
      .collect().map(_.toSeq)
    assert(merged.toSeq == direct.toSeq && merged.nonEmpty)
  }

  test("stream_hll_state ≡ brute-force registers over the replay window") {
    val got = SparkEntry.queries("stream_hll_state")(spark, d)
      .as[(String, Long)].collect().toMap
    val ev = Tables.events(spark, d).filter($"event_id" < 20000)
      .select("event_type", "user_id").as[(String, Long)].collect()
    ev.groupBy(_._1).foreach { case (t, es) =>
      val regs = Array.fill(64)(0L)
      es.map(_._2).distinct.foreach { id =>
        val h = graft.ops.UdafOps.idHash24(id)
        val b = (h % 64).toInt
        regs(b) = math.max(regs(b), graft.ops.SketchOps.hllRho(h / 64))
      }
      val want = math.floor(graft.ops.SketchOps.hllEstimate(regs) * 100).toLong
      assert(got(t) == want, s"type $t")
    }
  }

  test("text_js_divergence: nonnegative up to floor, brute-force one pair") {
    val rows = SparkEntry.queries("text_js_divergence")(spark, d)
      .as[(String, String, Long, Long)].collect()
    assert(rows.nonEmpty)
    // JS ≥ 0; per-term floors can shave at most 1e-9 each
    rows.foreach { case (a, b, nSh, js) =>
      assert(js >= -nSh, s"($a,$b)")
      assert(js <= 693147181L, "JS ≤ ln 2 in 1e-9 units") }
    val (sa, sb, nSh, js) = (rows.head._1, rows.head._2, rows.head._3, rows.head._4)
    val tok = Tables.documents(spark, d).select("source", "text")
      .as[(String, String)].collect()
      .flatMap { case (src, t) => t.split(" ").filter(_.nonEmpty).map(src -> _) }
    val ca = tok.filter(_._1 == sa).groupBy(_._2).view.mapValues(_.length.toLong)
    val cb = tok.filter(_._1 == sb).groupBy(_._2).view.mapValues(_.length.toLong)
    val na = ca.values.sum.toDouble; val nb = cb.values.sum.toDouble
    val shared = ca.keySet.toSet.intersect(cb.keySet.toSet)
    assert(nSh == shared.size.toLong)
    val want = shared.toSeq.map { tk =>
      val p = ca(tk) / na; val q = cb(tk) / nb
      math.floor((p * math.log(2.0 * p / (p + q)) +
        q * math.log(2.0 * q / (p + q))) * 5e8).toLong
    }.sum
    assert(js == want)
  }

  test("graph_clustering_coeff: cc bounded; consistent with triangle participation") {
    val rows = SparkEntry.queries("graph_clustering_coeff")(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, deg, tri, cc) =>
      assert(deg >= 2)
      assert(tri <= deg * (deg - 1) / 2, "triangles bounded by wedge count")
      assert(cc == tri * 2 * 1000000L / (deg * (deg - 1)))
      assert(cc >= 0 && cc <= 1000000L)
    }
  }

  test("dq_uniqueness_check ≡ brute-force duplicate-key accounting") {
    val rows = SparkEntry.queries("dq_uniqueness_check")(spark, d)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    def brute(keys: Array[(Long, Long)]): (Long, Long, Long) = {
      val g = keys.groupBy(identity).view.mapValues(_.length.toLong)
      (g.count(_._2 > 1).toLong, g.values.filter(_ > 1).sum, g.values.max)
    }
    val li = Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_linenumber".cast("long"))
      .as[(Long, Long)].collect()
    val (d1, r1, m1) = brute(li)
    assert(rows("lineitem_pk") == (("lineitem_pk", d1, r1, m1)))
    val ev = Tables.events(spark, d).select($"user_id", $"ts_us")
      .as[(Long, Long)].collect()
    val (d2, r2, m2) = brute(ev)
    assert(rows("events_user_ts") == (("events_user_ts", d2, r2, m2)))
    rows.values.foreach { case (_, nd, nr, _) =>
      assert(nr >= 2 * nd, "each dup key accounts for >= 2 rows") }
  }

  test("join_asof_forward: matched click strictly after; agrees with nearest's forward leg") {
    val rows = SparkEntry.queries("join_asof_forward")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, d)
      .filter($"event_type".isin("click", "purchase"))
      .select("event_id", "user_id", "event_type")
      .as[(Long, Long, String)].collect()
    val byUser = ev.groupBy(_._2)
    rows.foreach { case (pid, u, nxt) =>
      val clicksAfter = byUser(u).filter(e => e._3 == "click" && e._1 > pid)
      val want = if (clicksAfter.isEmpty) None else Some(clicksAfter.map(_._1).min)
      assert(nxt == want, s"purchase $pid")
    }
  }

  test("ts_rolling_zscore ≡ brute-force trailing-window standardization") {
    val rows = SparkEntry.queries("ts_rolling_zscore")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(rows.nonEmpty)
    val daily = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(t => (t._2, t._3))).toMap
    rows.foreach { case (t, day, x, nw, zc) =>
      val series = daily(t)
      val i = series.indexWhere(_._1 == day)
      val wind = series.slice(math.max(0, i - 14), i).map(_._2)
      assert(nw == wind.length.toLong)
      zc.foreach { z =>
        val n = wind.length.toLong
        val sx = wind.sum; val sxx = wind.map(v => v * v).sum
        val want = math.floor((x * n - sx).toDouble /
          math.sqrt((n * sxx - sx * sx).toDouble) * 100).toLong
        assert(z == want, s"($t, $day)")
      }
    }
  }

  test("text_hapax_ratio ≡ brute-force within-doc hapax counting") {
    val rows = SparkEntry.queries("text_hapax_ratio")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, d).select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val perDoc = docs.map { case (_, src, text) =>
      val counts = text.split(" ").filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length)
      val nd = counts.size.toLong
      val h = counts.count(_._2 == 1).toLong
      (src, nd, h, h * 1000000L / nd)
    }
    rows.foreach { case (src, nDocs, sumD, sumH, meanPpm) =>
      val g = perDoc.filter(_._1 == src)
      assert(nDocs == g.length.toLong)
      assert(sumD == g.map(_._2).sum && sumH == g.map(_._3).sum)
      assert(meanPpm == g.map(_._4).sum / g.length)
    }
  }
}
