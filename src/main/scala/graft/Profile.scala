package graft

import org.apache.spark.sql.SparkSession

/** Developer harness (not part of the library surface): time individual
  * queries or dump their physical plans outside the full Bench run.
  *
  *   sbt "runMain graft.Profile q1 q2"            # per-query wall time
  *   sbt "runMain graft.Profile --explain q1 q2"  # physical plans
  *
  * Data dir via SPARK_GRAFT_SF_DIR (defaults to sf0.1 for timing; use
  * sf0.01 for plan dumps to match docs/PLANS.md). Cores and shuffle
  * partitions via SPARK_GRAFT_CPUS (default 32).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val explain = args.headOption.contains("--explain") ||
      args.headOption.contains("--explainf")
    val phases = args.headOption.contains("--phases")
    // --explainf: FormattedMode (the `.explain("formatted")` shape the
    // optimization-round plan dumps under plans/ use); --explain stays
    // SimpleMode to match docs/PLANS.md.
    val formatted = args.headOption.contains("--explainf")
    val names = (if (explain || phases) args.drop(1) else args).toSeq
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC") // NTZ ts correctness (Tables.events)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel(if (explain) "ERROR" else "WARN")
    if (!explain) {
      spark.range(100000).selectExpr("sum(id)").collect() // warmup
      graft.streaming.StreamOps.warmup(spark)
    }
    names.foreach { n =>
      if (phases) {
        // Split one bench-shaped run (QueryHygiene.run around build+count)
        // into its fixed-cost phases, for the per-key-constant audit:
        //   hyg0  = QueryHygiene's pre-body catalog snapshot
        //   build = the query closure (DataFrame construction; streaming
        //           fixtures do real work here)
        //   plan  = analysis + optimization + physical planning
        //   exec1 = first count (includes codegen compile + run)
        //   exec2 = second count in the same session (warm plan/codegen)
        //   hyg1  = QueryHygiene's post-body sweep
        def ms(t0: Long, t1: Long): String = f"${(t1 - t0) / 1e6}%8.1f"
        val sc = spark.sparkContext
        val t0 = System.nanoTime()
        val before = sc.getPersistentRDDs.keySet
        val viewsBefore = spark.sessionState.catalog.getTempViewNames().toSet
        val t1 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, d)
        val t2 = System.nanoTime()
        df.queryExecution.executedPlan // force analyze+optimize+plan
        val t3 = System.nanoTime()
        df.count()
        val t4 = System.nanoTime()
        df.count()
        val t5 = System.nanoTime()
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before(id) && !graft.api.QueryHygiene.isPinned(id))
            rdd.unpersist(blocking = false)
        }
        spark.sessionState.catalog.getTempViewNames()
          .filterNot(viewsBefore)
          .foreach(v => spark.catalog.dropTempView(v))
        val t6 = System.nanoTime()
        println(f"PHASES $n%-28s hyg0=${ms(t0, t1)} build=${ms(t1, t2)} " +
          f"plan=${ms(t2, t3)} exec1=${ms(t3, t4)} exec2=${ms(t4, t5)} " +
          f"hyg1=${ms(t5, t6)} total=${ms(t0, t6)} ms")
      } else if (explain) {
        val df = SparkEntry.queries(n)(spark, d)
        println(s"===== $n =====")
        println(df.queryExecution.explainString(
          if (formatted) org.apache.spark.sql.execution.FormattedMode
          else org.apache.spark.sql.execution.SimpleMode))
      } else {
        // time construction + count: streaming fixtures (and adaptive
        // plan probes) do real work eagerly while the query is BUILT —
        // timing only the terminal action would hide it (Bench times
        // both the same way)
        val t0 = System.nanoTime()
        val c = SparkEntry.queries(n)(spark, d).count()
        println(f"QUERY $n%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$c")
      }
    }
    spark.stop()
  }
}
