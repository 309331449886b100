package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec

/** Developer harness (not part of the library surface): time individual
  * queries or dump their physical plans outside the full Bench run, on
  * the same session Bench and Verify build ([[Harness.session]], graft
  * extension and its post-planner rule installed).
  *
  *   sbt "runMain graft.Profile q1 q2"            # per-query wall time
  *   sbt "runMain graft.Profile --explain q1 q2"  # physical plans
  *   sbt "runMain graft.Profile --explainf q1"    # formatted plans
  *   sbt "runMain graft.Profile --phases q1 q2"   # build/plan/exec/hygiene split
  *   sbt "runMain graft.Profile --census [keys]"  # SortAggregate count per key
  *
  * Data dir via SPARK_GRAFT_SF_DIR (defaults to sf0.1 for timing; use
  * sf0.01 for plan dumps to match docs/PLANS.md, sf0.001 for the census
  * in docs/SORTAGG_CENSUS.txt). Cores and shuffle partitions via
  * SPARK_GRAFT_CPUS (default 32). Timing runs are preceded by Bench's
  * warm-up ([[Harness.warmup]]); plan dumps and the census skip it.
  */
object Profile {

  /** Every node of `df`'s physical plan, with adaptive plans unwrapped and
    * the plans of its subqueries included. */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan)
  }

  /** How many `SortAggregate` nodes the physical plan of `df` holds.
    * Counting nodes instead of diffing explain text keeps the census
    * stable across JVMs. */
  def sortAggregates(df: DataFrame): Int =
    planNodes(df).count(_.isInstanceOf[SortAggregateExec])

  /** The keys the census covers: every key but the streaming fixtures
    * (their DataFrames are materialized results). */
  def censusKeys: Seq[String] =
    SparkEntry.queries.keys.filterNot(_.startsWith("stream_")).toSeq.sorted

  def main(args: Array[String]): Unit = {
    val explain = args.headOption.contains("--explain") ||
      args.headOption.contains("--explainf")
    val phases = args.headOption.contains("--phases")
    val census = args.headOption.contains("--census")
    // --explainf: FormattedMode (the `.explain("formatted")` shape the
    // optimization-round plan dumps under plans/ use); --explain stays
    // SimpleMode to match docs/PLANS.md.
    val formatted = args.headOption.contains("--explainf")
    val names = (if (explain || phases || census) args.drop(1) else args).toSeq
    val keys = if (census) Harness.select(censusKeys, names) else names
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(32)
    if (!explain && !census) Harness.warmup(spark, d)
    keys.foreach { n =>
      if (phases) {
        // Split one bench-shaped run (QueryHygiene.run around build+count)
        // into its phases, for the per-key-constant audit:
        //   build = the query closure (DataFrame construction; streaming
        //           fixtures do real work here)
        //   plan  = analysis + optimization + physical planning
        //   exec1 = first count (includes codegen compile + run)
        //   exec2 = second count in the same session (warm plan/codegen)
        //   hyg   = the rest: QueryHygiene's catalog snapshot before the
        //           body and its sweep after it
        def ms(ns: Long): String = f"${ns / 1e6}%8.1f"
        val t = new Array[Long](5) // the four phases' edges
        val t0 = System.nanoTime()
        graft.api.QueryHygiene.run(spark, n) {
          t(0) = System.nanoTime()
          val df = SparkEntry.queries(n)(spark, d)
          t(1) = System.nanoTime()
          df.queryExecution.executedPlan // force analyze+optimize+plan
          t(2) = System.nanoTime()
          df.count()
          t(3) = System.nanoTime()
          df.count()
          t(4) = System.nanoTime()
        }
        val total = System.nanoTime() - t0
        println(f"PHASES $n%-28s build=${ms(t(1) - t(0))} plan=${ms(t(2) - t(1))} " +
          f"exec1=${ms(t(3) - t(2))} exec2=${ms(t(4) - t(3))} " +
          f"hyg=${ms(total - (t(4) - t(0)))} total=${ms(total)} ms")
      } else if (census) {
        val c = graft.api.QueryHygiene.run(spark, n) {
          sortAggregates(SparkEntry.queries(n)(spark, d))
        }
        if (c > 0) println(s"SORTAGG $n $c")
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
