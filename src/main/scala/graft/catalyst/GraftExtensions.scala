package graft.catalyst

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension installer. Injects:
  *
  *  - the native functions of [[GraftExtensions.functionDescriptors]]:
  *    the seq-id codec (`seq_id_decode_native`), the bitset and sorted-set
  *    kernels (`bitset_from_ids`, `bitset_intersect_count`,
  *    `sorted_intersect_count`, `bitset_containment_shared`,
  *    `bitset_from_tokens`), the text kernels (`packed_tf_min_overlap`,
  *    `ngram_shingles`, `word_bigrams`) and the vector kernels
  *    (`vec_dot`, `vec_sqdist`, `vec_sqdist_long`);
  *  - the post-planner rule [[SinglePartitionFeedScan]] (a one-partition
  *    bounded `http-feed` read reports `SinglePartition`).
  *
  * No optimizer rule: Spark's partial `WindowGroupLimit` already gives
  * compaction its map-side cut.
  *
  * Two entry points:
  *
  *  - `spark.sql.extensions=graft.catalyst.GraftExtensions` at session
  *    build time, or `SparkSession.builder().withExtensions(new
  *    GraftExtensions)` — the standard deployment paths, and the only ones
  *    that install [[SinglePartitionFeedScan]];
  *  - [[GraftExtensions.install]] on a live session, which registers the
  *    functions only; queries that use a kernel call it on the session
  *    they are given.
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

  private def descriptor(name: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  private[catalyst] val functionDescriptors: Seq[Descriptor] = Seq(
    descriptor("seq_id_decode_native", classOf[SeqIdDecodeExpr]) {
      children => SeqIdDecodeExpr(children.head)
    },
    descriptor("bitset_from_ids", classOf[BitsetFromIdsExpr]) {
      children => BitsetFromIdsExpr(children(0), children(1))
    },
    descriptor("bitset_intersect_count", classOf[BitsetIntersectCountExpr]) {
      children => BitsetIntersectCountExpr(children(0), children(1))
    },
    descriptor("sorted_intersect_count", classOf[SortedIntersectCountExpr]) {
      children => SortedIntersectCountExpr(children(0), children(1))
    },
    descriptor("bitset_containment_shared", classOf[BitsetContainmentSharedExpr]) {
      children => BitsetContainmentSharedExpr(children(0), children(1), children(2))
    },
    descriptor("packed_tf_min_overlap", classOf[PackedTfMinOverlapExpr]) {
      children => PackedTfMinOverlapExpr(children(0), children(1))
    },
    descriptor("ngram_shingles", classOf[NgramShinglesExpr]) {
      children => NgramShinglesExpr(children(0), children(1))
    },
    descriptor("bitset_from_tokens", classOf[BitsetFromTokensExpr]) {
      children => BitsetFromTokensExpr(children(0), children(1), children(2))
    },
    descriptor("word_bigrams", classOf[WordBigramsExpr]) {
      children => WordBigramsExpr(children.head)
    },
    descriptor("vec_dot", classOf[VecDotExpr]) {
      children => VecDotExpr(children(0), children(1))
    },
    descriptor("vec_sqdist", classOf[VecSqDistExpr]) {
      children => VecSqDistExpr(children(0), children(1))
    },
    descriptor("vec_sqdist_long", classOf[VecSqDistLongExpr]) {
      children => VecSqDistLongExpr(children(0), children(1))
    }
  )

  /** Idempotently register the native functions on a live session. The
    * post-planner rule needs a session built with the extension. */
  def install(spark: SparkSession): Unit =
    functionDescriptors.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
