package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

object Bench {
  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def queriesJson(qs: Iterable[(String, Double)]): String =
    qs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(4)
    Harness.warmup(spark, sfDir)
    // verifyOnly keys are forced-strategy duplicates for the oracle gate;
    // their semantics are already timed under their canonical key.
    // Optional local-iteration filter (comma-separated keys or prefixes
    // ending in '*'); the driver never sets it, so the contract run is
    // always the full sorted sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(","))
    val queries = SparkEntry.queries -- SparkEntry.verifyOnly
    val selected = Harness.select(queries.keys, only)
    // One-time SHARED cache/fixture builds, forced up front and billed as
    // explicit `_build_*` lines: otherwise their cost lands on whichever
    // query happens to run first in sorted order, and per-query numbers
    // migrate between rounds whenever a new key shifts that order. The
    // leading underscore sorts them ahead of every query in the report.
    // Skipped under a SPARK_GRAFT_ONLY filter that selects none of their
    // consumers (local iteration stays cheap); the contract run is full.
    val builds: Seq[(String, String, () => Unit)] = Seq(
      // the 8 table warms are independent single-scan jobs; submit them
      // from a small thread pool so each scan's task tail back-fills the
      // cores the previous scan left idle (guide §2.6 "overlap
      // independent jobs") instead of serializing 8 scheduler round-trips
      ("_build_table_scan_warm", "",
        () => {
          val tables = Seq("lineitem", "orders", "customer", "part",
            "supplier", "events", "documents", "embeddings")
          val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
          try tables.map(t => pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long = spark.read.parquet(s"$sfDir/$t.parquet").count()
            })).foreach(_.get())
          finally pool.shutdown()
        }),
      // rec_coverage_metrics composes graph_cn_recommend off the adjacency
      // cache, so it is a consumer too (full runs always build; this only
      // fixes attribution under a SPARK_GRAFT_ONLY subset)
      ("_build_graph_adjacency", "graph_,rec_coverage_metrics",
        () => { graft.ops.GraphOps.adjacency(spark, sfDir).count(); () }),
      ("_build_graph_common_neighbors", "graph_",
        () => { graft.ops.GraphOps.commonNeighbors(spark, sfDir).count(); () }),
      ("_build_stream_fixture_rows", "stream_",
        () => graft.streaming.StreamOps.prebuildFixtures(spark, sfDir)),
      // strict near-dup pair graph + CC labeling, shared by the
      // curation-report family (comma-separated consumer names)
      ("_build_dedup_pairs",
        "dedup_cluster_cc,dedup_keep_best,dedup_survivorship_report,corpus_health_report",
        () => { graft.ops.TrainOps.strictDedupLabels(spark, sfDir).count(); () })
    )
    // Consumer tokens ending in '_' are prefixes (graph_, stream_);
    // anything else matches EXACTLY — a bare prefix match would also hit
    // the `_dist` twins (dedup_cluster_cc_dist, ...), which deliberately
    // BYPASS the shared cache, so a subset run selecting only a twin
    // would pay (and bill) a build it never uses.
    val buildResults = builds
      .filter { case (_, prefixes, _) =>
        only.isEmpty || (prefixes.nonEmpty && prefixes.split(",").exists(p =>
          if (p.endsWith("_")) selected.exists(_.startsWith(p))
          else selected.contains(p))) }
      .map { case (name, _, body) =>
        val t0 = System.nanoTime()
        val ok = try { body(); true }
        catch { case e: Throwable => System.err.println(s"BENCH_FAIL $name: $e"); false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    // Canary probes: 5 fixed constant-cost micro-jobs (scheduler round-trip,
    // small parquet scan, shuffle agg, broadcast join, localCheckpoint)
    // interleaved through the sweep every CANARY_EVERY queries. They measure
    // BOX/JVM health at that point in the run, not any query plan: when a
    // contiguous band of the sorted sweep inflates (the r9 driver artifact —
    // 22 untouched queries at 2.3-6.7x, later exonerated by a quiet rerun),
    // the canary samples bracketing the band inflate with it, turning "box
    // noise" from a post-hoc story into per-run evidence. Warmed once
    // untimed; ~50 ms/set steady-state, EXCLUDED from the reported total
    // (they are not queries). Disable with SPARK_GRAFT_CANARY=0.
    val canaryOn = sys.env.getOrElse("SPARK_GRAFT_CANARY", "1") != "0" && only.isEmpty
    val canaryEvery = 40
    val canaries: Seq[(String, () => Unit)] = {
      import org.apache.spark.sql.functions._
      val cached = spark.range(200000).toDF("id").cache()
      Seq(
        ("sched", () => { spark.range(1000).count(); () }),
        ("scan", () => { spark.read.parquet(s"$sfDir/supplier.parquet").count(); () }),
        ("shuffle", () => { cached.groupBy(col("id") % 97).count().count(); () }),
        ("bcast", () => { cached.join(broadcast(cached.limit(100).select(col("id").as("j"))),
          col("id") === col("j")).count(); () }),
        ("ckpt", () => { spark.range(10000).toDF("id").localCheckpoint(true).count(); () })
      )
    }
    val canarySamples = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def runCanaries(): Unit = if (canaryOn) canaries.foreach { case (n, body) =>
      val t0 = System.nanoTime()
      try body() catch { case _: Throwable => () }
      canarySamples += n -> (System.nanoTime() - t0) / 1e9
    }
    if (canaryOn) { runCanaries(); canarySamples.clear() } // untimed warm of the probe paths
    runCanaries()
    var sinceCanary = 0
    val results = buildResults ++ selected.map { name =>
      val t0 = System.nanoTime()
      val ok = try {
        graft.api.QueryHygiene.run(spark, name)(queries(name)(spark, sfDir).count()); true
      } catch { case e: Throwable => System.err.println(s"BENCH_FAIL $name: $e"); false }
      // Stop the clock BEFORE the canary probes run: evaluating the elapsed
      // time after runCanaries() billed each ~0.9 s probe set to whichever
      // query sat at a multiple-of-40 sweep position — a positional cost
      // that migrated to the PREDECESSOR key whenever an inserted key
      // shifted the sorted order (the r14→r15 "pairwise billing swaps":
      // every gainer sat at position ≡ 0 mod 40). Canaries are box-health
      // probes, excluded from the total by contract.
      val elapsed = (System.nanoTime() - t0) / 1e9
      sinceCanary += 1
      if (sinceCanary >= canaryEvery) { sinceCanary = 0; runCanaries() }
      // a crashed query must not masquerade as a fast success: -1 marks it
      name -> (if (ok) elapsed else -1.0)
    }
    runCanaries()
    val total = results.map(_._2).sum
    // Per-probe sample series + drift = max/median per probe; the headline
    // canary_drift is the worst probe's ratio. ~1.0 = quiet box throughout;
    // >>1 = load transients whose timing localizes any inflated query band.
    val canaryJson = if (canarySamples.isEmpty) "" else {
      val byProbe = canaries.map { case (n, _) =>
        n -> canarySamples.filter(_._1 == n).map(_._2).toSeq }
      val drift = byProbe.map { case (n, ts) =>
        val sorted = ts.sorted
        val med = math.max(sorted(sorted.size / 2), 1e-4)
        n -> ts.max / med
      }
      val series = byProbe.map { case (n, ts) =>
        "\"" + n + "\":[" + ts.map(fmt).mkString(",") + "]" }.mkString("{", ",", "}")
      s""","canary":$series,"canary_drift":${fmt(drift.map(_._2).max)}"""
    }
    // Full contract line (every query), also persisted to a file: the
    // harness that collects this output keeps only a bounded tail of stdout,
    // and with ~95 queries the full line alone exceeds that window.
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${queriesJson(results)},"sf":"$sfDir"$canaryJson}"""
    println(full)
    try Files.write(Paths.get("bench_full.json"),
      (full + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // Compact final line sized to fit the tail window even after the build
    // tool appends its own trailer: same shape, top slowest queries only.
    val top = results.sortBy(-_._2).take(20)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${queriesJson(top)},"sf":"$sfDir","n_queries":${results.size},"queries_full":"bench_full.json"$canaryJson}""")
    spark.stop()
  }
}
