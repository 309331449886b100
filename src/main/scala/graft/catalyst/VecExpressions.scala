package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector kernels for the embedding operators (similarity search,
  * k-NN, near-dup, IVF ANN). Semantically identical to the in-order
  * higher-order-function folds they replace —
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0, +)` —
  * including left-to-right double accumulation (so floor-canonicalized
  * outputs stay bit-identical to the DuckDB oracle) AND the null contract:
  * length-mismatched arrays and null elements yield NULL, exactly as
  * zip_with's null padding poisons the fold. The HOF form pays an
  * interpreted lambda dispatch per element; these run as one fused loop
  * inside whole-stage codegen. Element types may be FLOAT or DOUBLE on
  * either side (embeddings are float; derived centroids are double).
  */
abstract class VecFoldExpr extends BinaryExpression with Kernels.Named {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isNumericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left.dataType) && isNumericArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** Java accessor snippet for element i of `arr`, widened to double. */
  protected def access(arr: String, tpe: DataType, i: String): String = tpe match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  protected def get(arr: ArrayData, tpe: DataType, i: Int): Double = tpe match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  /** Java expression combining one element pair (names `x` and `y`). */
  protected def combine(x: String, y: String): String

  protected def combineEval(x: Double, y: Double): Double

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    val n = aa.numElements()
    if (n != bb.numElements()) return null // zip_with would pad with null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || bb.isNullAt(i)) return null // null poisons the fold
      acc = acc + combineEval(get(aa, ta, i), get(bb, tb, i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, acc) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("acc"))
      val x = access(a, elemType(left), i)
      val y = access(b, elemType(right), i)
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc = $acc + (${combine(x, y)});
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
}

/** `vec_dot(a, b)`: in-order double dot product of two numeric arrays. */
case class VecDotExpr(left: Expression, right: Expression) extends VecFoldExpr {
  override protected def combine(x: String, y: String): String = s"($x) * ($y)"
  override protected def combineEval(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}

/** `vec_sqdist_long(a, b)`: exact squared L2 distance of two
  * `array<bigint>` quantized vectors, as BIGINT. Quantize first
  * (`floor(x·scale)` per component — one rounding per VALUE, identical
  * in every engine), then every distance is an exact integer whose sum
  * is merge-order independent: the property that lets a DuckDB oracle
  * recompute the same distances through a vectorized unnest-join-groupby
  * instead of a per-pair interpreted list lambda (the lambda form is
  * ~1000× slower and made large-scale oracle sweeps infeasible). Null
  * contract matches the double kernels: length mismatch or a null
  * element yields NULL. Overflow note: |q|≤2^20-scaled unit vectors of
  * dim ≤ 4096 stay far inside int64 (diff² ≤ 2^42 · dim). */
case class VecSqDistLongExpr(left: Expression, right: Expression)
    extends BinaryExpression with Kernels.Named {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = aa.numElements()
    if (n != bb.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || bb.isNullAt(i)) return null
      val d = aa.getLong(i) - bb.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, acc, d) = (ctx.freshName("i"), ctx.freshName("n"),
        ctx.freshName("acc"), ctx.freshName("d"))
      s"""
         |int $n = $a.numElements();
         |long $acc = 0L;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDistLongExpr =
    copy(left = newLeft, right = newRight)
}

/** `vec_sqdist(a, b)`: in-order squared L2 distance of two numeric arrays. */
case class VecSqDistExpr(left: Expression, right: Expression) extends VecFoldExpr {
  override protected def combine(x: String, y: String): String =
    s"(($x) - ($y)) * (($x) - ($y))"
  override protected def combineEval(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDistExpr =
    copy(left = newLeft, right = newRight)
}
