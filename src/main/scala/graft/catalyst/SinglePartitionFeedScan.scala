package graft.catalyst

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.connector.HttpFeedScan

/** Post-planner rule: a bounded `http-feed` read planned as exactly one
  * input partition reports `SinglePartition`.
  *
  * `BatchScanExec` reports no partitioning for a scan that does not
  * implement `SupportsReportPartitioning`, even with one partition, so a
  * window, `dropDuplicates`, sort or aggregate over the default
  * `backfillPartitions = 1` read shuffles that one partition out to
  * `spark.sql.shuffle.partitions` tasks: a second stage, and a job, for
  * data that is already in one place. The rule wraps such a scan in
  * Spark's own `CoalesceExec(1, _)`, which passes the partition through
  * and reports `SinglePartition`, so `EnsureRequirements` (it runs after
  * this rule) plans no exchange for any distribution it satisfies.
  *
  * The partition count is the scan's memoized plan
  * (`HttpFeedScan.toBatch` is one `HttpFeedBatch`), so reading it here
  * resolves the head at physical planning instead of at the first
  * execution, with the same requests. Fan-outs (N > 1), empty reads and
  * streaming scans keep their plans.
  *
  * Trade-off: everything the shuffle used to spread over the shuffle
  * partitions — the sort and window per subject, for one — now runs in the
  * scan's one task, after the rows are read. On a 4-core VM a window with
  * no group limit, `lag(id)` over `subject`, was not slower for it: 448
  * vs 475 ms on 20k envelopes (25 interleaved runs) and 1306 vs 1347 ms
  * on 60k small ones (11 runs). Per-key work much heavier than the read
  * itself would be.
  *
  * Spark applies post-planner rules only under adaptive execution, which
  * plans every query that has a distribution requirement; registered by
  * [[GraftExtensions]] through `injectQueryPostPlannerStrategyRule`.
  */
object SinglePartitionFeedScan extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case wrapped @ CoalesceExec(1, _: BatchScanExec) => wrapped
    case scan: BatchScanExec
        if scan.scan.isInstanceOf[HttpFeedScan] && scan.inputPartitions.length == 1 =>
      CoalesceExec(1, scan)
    case p => p.withNewChildren(p.children.map(apply))
  }
}
