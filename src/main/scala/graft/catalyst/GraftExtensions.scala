package graft.catalyst

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension installer. Injects:
  *
  *  - the native functions of the kernel table ([[Kernels.all]]): the
  *    seq-id codec, the bitset and sorted-set kernels, the text kernels
  *    and the vector kernels, by their SQL names;
  *  - the post-planner rule [[SinglePartitionFeedScan]] (a one-partition
  *    bounded `http-feed` read reports `SinglePartition`).
  *
  * No optimizer rule: Spark's partial `WindowGroupLimit` already gives
  * compaction its map-side cut.
  *
  * DataFrame code needs none of it for the kernels: the typed builders
  * of [[Kernels]] build their Columns straight from the expressions. Only
  * SQL text that names a kernel needs the functions registered, through
  * one of two entry points:
  *
  *  - `spark.sql.extensions=graft.catalyst.GraftExtensions` at session
  *    build time, or `SparkSession.builder().withExtensions(new
  *    GraftExtensions)` — the standard deployment paths, and the only ones
  *    that install [[SinglePartitionFeedScan]];
  *  - [[GraftExtensions.install]] on a live session, which registers the
  *    functions only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionDescriptors.foreach(ext.injectFunction)
    ext.injectQueryPostPlannerStrategyRule(_ => SinglePartitionFeedScan)
  }
}

object GraftExtensions {

  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[catalyst] val functionDescriptors: Seq[Descriptor] = Kernels.all.map { k =>
    (FunctionIdentifier(k.name), new ExpressionInfo(k.clazz.getName, k.name), k.build _)
  }

  /** Idempotently register the native functions on a live session, for
    * SQL text that names a kernel. The post-planner rule needs a session
    * built with the extension. */
  def install(spark: SparkSession): Unit =
    functionDescriptors.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
