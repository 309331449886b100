package graft.catalyst

import scala.reflect.ClassTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression, wrongNumArgs}
import org.apache.spark.sql.catalyst.expressions.Expression

/** The native kernels, one entry each: SQL name, expression class, arity
  * and constructor. Each entry is also the kernel's typed Column builder
  * (`Kernels.vecDot(a, b)`), which builds the Catalyst expression directly,
  * so DataFrame code runs on any session, extension or not. SQL text
  * resolves the same entries by name through the function registry
  * ([[GraftExtensions]]). */
object Kernels {

  /** One kernel. [[build]] is its function-registry builder. */
  sealed abstract class Kernel(val name: String, val arity: Int, val clazz: Class[_]) {
    protected def make(args: Seq[Expression]): Expression

    /** The expression over `args`; a wrong argument count throws Spark's
      * WRONG_NUM_ARGS, as a built-in function does. */
    def build(args: Seq[Expression]): Expression =
      if (args.size == arity) make(args)
      else throw wrongNumArgs(name, arity, args.size)
  }

  final class Kernel1[E <: Expression](name: String, f: Expression => E)(implicit t: ClassTag[E])
      extends Kernel(name, 1, t.runtimeClass) {
    def apply(a: Column): Column = column(f(expression(a)))
    protected def make(args: Seq[Expression]): Expression = f(args(0))
  }

  final class Kernel2[E <: Expression](name: String, f: (Expression, Expression) => E)(
      implicit t: ClassTag[E]) extends Kernel(name, 2, t.runtimeClass) {
    def apply(a: Column, b: Column): Column = column(f(expression(a), expression(b)))
    protected def make(args: Seq[Expression]): Expression = f(args(0), args(1))
  }

  final class Kernel3[E <: Expression](name: String, f: (Expression, Expression, Expression) => E)(
      implicit t: ClassTag[E]) extends Kernel(name, 3, t.runtimeClass) {
    def apply(a: Column, b: Column, c: Column): Column =
      column(f(expression(a), expression(b), expression(c)))
    protected def make(args: Seq[Expression]): Expression = f(args(0), args(1), args(2))
  }

  val seqIdDecode = new Kernel1("seq_id_decode_native", SeqIdDecodeExpr)
  val bitsetFromIds = new Kernel2("bitset_from_ids", BitsetFromIdsExpr)
  val bitsetIntersectCount = new Kernel2("bitset_intersect_count", BitsetIntersectCountExpr)
  val sortedIntersectCount = new Kernel2("sorted_intersect_count", SortedIntersectCountExpr)
  val bitsetContainmentShared =
    new Kernel3("bitset_containment_shared", BitsetContainmentSharedExpr)
  val packedTfMinOverlap = new Kernel2("packed_tf_min_overlap", PackedTfMinOverlapExpr)
  val ngramShingles = new Kernel2("ngram_shingles", NgramShinglesExpr)
  val bitsetFromTokens = new Kernel3("bitset_from_tokens", BitsetFromTokensExpr)
  val wordBigrams = new Kernel1("word_bigrams", WordBigramsExpr)
  val vecDot = new Kernel2("vec_dot", VecDotExpr)
  val vecSqDist = new Kernel2("vec_sqdist", VecSqDistExpr)
  val vecSqDistLong = new Kernel2("vec_sqdist_long", VecSqDistLongExpr)

  val all: Seq[Kernel] = Seq(seqIdDecode, bitsetFromIds, bitsetIntersectCount,
    sortedIntersectCount, bitsetContainmentShared, packedTfMinOverlap, ngramShingles,
    bitsetFromTokens, wordBigrams, vecDot, vecSqDist, vecSqDistLong)

  private lazy val names: Map[Class[_], String] = all.map(k => k.clazz -> k.name).toMap

  /** A kernel expression's `prettyName`: its SQL name, from the table. */
  trait Named extends Expression {
    override def prettyName: String = names(getClass)
  }
}
