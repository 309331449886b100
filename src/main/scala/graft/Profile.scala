package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.storage.GraftBroadcasts

/** Developer harness (not part of the library surface): time individual
  * queries or dump their physical plans outside the full Bench run, on
  * the same session Bench and Verify build ([[Harness.session]], graft
  * extension and its post-planner rule installed).
  *
  *   sbt "runMain graft.Profile q1 q2"            # build/plan/exec/hygiene split
  *                                                # + jobs/stages per consumed run
  *                                                # (same as `--phases q1 q2`)
  *   sbt "runMain graft.Profile --explain q1 q2"  # physical plans
  *   sbt "runMain graft.Profile --explainf q1"    # formatted plans
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

  /** Counts Spark jobs and submitted stages (a reused shuffle's stage is
    * skipped, never submitted). Events arrive on the listener bus thread;
    * read [[snapshot]] after draining the bus. */
  private final class WorkCounter extends SparkListener {
    @volatile private var jobs = 0
    @volatile private var stages = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages += 1
    def snapshot: (Int, Int) = (jobs, stages)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(Set("--explain", "--explainf", "--phases", "--census"))
    val explain = mode.exists(_.startsWith("--explain"))
    val census = mode.contains("--census")
    val phases = !explain && !census
    // --explainf: FormattedMode (the `.explain("formatted")` shape the
    // optimization-round plan dumps under plans/ use); --explain stays
    // SimpleMode to match docs/PLANS.md.
    val formatted = mode.contains("--explainf")
    val names = (if (mode.isDefined) args.drop(1) else args).toSeq
    val keys = if (census) Harness.select(censusKeys, names) else names
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(32)
    val counter = new WorkCounter
    if (phases) {
      spark.sparkContext.addSparkListener(counter)
      Harness.warmup(spark, d)
    }
    keys.foreach { n =>
      if (phases) {
        // Split one bench-shaped run (QueryHygiene.run around build and a
        // consumed write) into its phases, for the per-key-constant audit:
        //   build = the query closure (DataFrame construction; streaming
        //           fixtures do real work here)
        //   plan  = analysis + optimization + physical planning
        //   exec1 = first write of every row and column to the `noop`
        //           sink, as perfbench's query-mix consumes a key
        //           (includes codegen compile + run)
        //   exec2 = second write in the same session (warm plan/codegen)
        //   hyg   = the rest: QueryHygiene's catalog snapshot before the
        //           body and its sweep after it
        // jobs/stages = exec1/exec2's Spark jobs and submitted (not
        // skipped) stages, counted by one listener between bus drains.
        // bcast = the broadcasts the run created (task binaries
        //         included) that its sweep released.
        def ms(ns: Long): String = f"${ns / 1e6}%8.1f"
        def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
        val dur = new Array[Long](4) // build, plan, exec1, exec2
        def timed[A](i: Int)(f: => A): A = {
          val a = System.nanoTime(); val r = f; dur(i) = System.nanoTime() - a; r
        }
        val edges = new Array[(Int, Int)](3) // (jobs, stages) around exec1/exec2
        var drainNs = 0L // the drains stay out of every phase
        def mark(i: Int): Unit = {
          val a = System.nanoTime()
          org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
          edges(i) = counter.snapshot
          drainNs += System.nanoTime() - a
        }
        val sc = spark.sparkContext
        val bc0 = GraftBroadcasts.held(sc)
        var created = Set.empty[Long]
        val t0 = System.nanoTime()
        graft.api.QueryHygiene.run(spark, n) {
          val df = timed(0)(SparkEntry.queries(n)(spark, d))
          timed(1)(df.queryExecution.executedPlan) // force analyze+optimize+plan
          mark(0)
          timed(2)(consume(df)); mark(1)
          timed(3)(consume(df)); mark(2)
          val a = System.nanoTime()
          created = GraftBroadcasts.held(sc) -- bc0
          drainNs += System.nanoTime() - a
        }
        val total = System.nanoTime() - t0 - drainNs
        val released = (created -- GraftBroadcasts.held(sc)).size
        def delta(f: ((Int, Int)) => Int): String =
          s"${f(edges(1)) - f(edges(0))}/${f(edges(2)) - f(edges(1))}"
        println(f"PHASES $n%-28s build=${ms(dur(0))} plan=${ms(dur(1))} " +
          f"exec1=${ms(dur(2))} exec2=${ms(dur(3))} " +
          f"hyg=${ms(total - dur.sum)} total=${ms(total)} ms " +
          s"jobs=${delta(_._1)} stages=${delta(_._2)} bcast=$released")
      } else if (census) {
        val c = graft.api.QueryHygiene.run(spark, n) {
          sortAggregates(SparkEntry.queries(n)(spark, d))
        }
        if (c > 0) println(s"SORTAGG $n $c")
      } else {
        val df = SparkEntry.queries(n)(spark, d)
        println(s"===== $n =====")
        println(df.queryExecution.explainString(
          if (formatted) org.apache.spark.sql.execution.FormattedMode
          else org.apache.spark.sql.execution.SimpleMode))
      }
    }
    spark.stop()
  }
}
