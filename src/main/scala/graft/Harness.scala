package graft

import org.apache.spark.sql.SparkSession

/** The session, warm-up and key selection shared by the mains (Bench,
  * Verify, Profile, ConnectorBench, EntrySmoke), so each of them runs the
  * engine users get: the session is built with [[catalyst.GraftExtensions]]
  * installed, rules included. */
object Harness {

  /** `local[SPARK_GRAFT_CPUS]` (else `defaultCpus`) with the shuffle width
    * equal to the core count, UTC as the session zone (the NTZ `ts` vintage
    * of `Tables.events` needs it), no UI, the graft extension, and WARN
    * logging. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.catalyst.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up: the first use of each engine subsystem in a JVM pays
    * multi-second classloading / codegen / JIT costs that would otherwise
    * be billed to whichever query touches it first. Exercises each once:
    * scans+shuffles, broadcast joins, localCheckpoint, the native graft
    * kernels, higher-order functions, and a streaming micro-batch. A step
    * that fails prints `WARMUP_FAIL <step>: <exception>` to stderr and the
    * next step still runs. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val steps: Seq[(String, () => Unit)] = Seq(
      "range" -> (() => { spark.range(100000).selectExpr("sum(id)").collect(); () }),
      "parquet" -> (() => {
        spark.read.parquet(s"$sfDir/nation.parquet")
          .groupBy("n_regionkey").count().collect(); ()
      }),
      "kernels" -> (() => {
        val w = spark.range(1000).toDF("id").localCheckpoint()
        w.join(broadcast(w.select(col("id").as("j"))), col("id") === col("j"))
          .selectExpr(
            "bitset_intersect_count(bitset_from_ids(array(CAST(id % 64 AS INT) + 1), 1)," +
              " bitset_from_ids(array(CAST(j % 64 AS INT) + 1), 1))",
            "ngram_shingles('warmup text', 5)", "word_bigrams('warmup text here')",
            "vec_dot(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))",
            "vec_sqdist(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))",
            "aggregate(sequence(1, 3), 0L, (a, x) -> a + x)")
          .collect(); ()
      }),
      "stream" -> (() => graft.streaming.StreamOps.warmup(spark)))
    steps.foreach { case (step, body) =>
      try body()
      catch { case e: Throwable => System.err.println(s"WARMUP_FAIL $step: $e") }
    }
  }

  /** The keys to run, in sorted name order: all of `keys` when `only` is
    * empty, else those named exactly by an entry of `only` or starting
    * with an entry's text before a trailing `*`. Sorted order gives
    * deterministic run-to-run attribution (a Map's hash order reshuffles
    * whenever a key is added, moving first-touch costs between queries)
    * and family locality (the graph_* queries run consecutively, so their
    * shared caches stay hot). */
  def select(keys: Iterable[String], only: Seq[String]): Seq[String] =
    keys.filter(n => only.isEmpty || only.exists(k =>
      if (k.endsWith("*")) n.startsWith(k.dropRight(1)) else n == k)).toSeq.sorted
}
