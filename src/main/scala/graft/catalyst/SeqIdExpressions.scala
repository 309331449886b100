package graft.catalyst

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sequence-prefixed id codec
  * (reference `README.md:159`: `0000001000001::<uuid>`). These are the
  * codegen'd hot-path versions of the [[graft.udf.SeqId]] UDFs — a scalar
  * Scala UDF breaks whole-stage codegen and boxes every row; a native
  * `UnaryExpression` with `doGenCode` stays inside the generated loop.
  * Property-tested equal to the UDF path (PropertySuite).
  */
object SeqIdCodec {
  val Sep = "::"

  /** Static helper the generated code calls: parse the numeric prefix of a
    * seq-id; returns -1 for malformed input (mapped to null by the caller
    * so the expression is null-safe without exceptions in the hot loop). */
  def decodePrefix(s: UTF8String): Long = {
    if (s == null) return -1L
    val str = s.toString
    val i = str.indexOf(Sep)
    if (i <= 0) return -1L
    var k = 0
    var acc = 0L
    while (k < i) {
      val c = str.charAt(k)
      if (c < '0' || c > '9') return -1L
      val d = c - '0'
      if (acc > (Long.MaxValue - d) / 10) return -1L // overflow ⇒ malformed
      acc = acc * 10 + d
      k += 1
    }
    acc
  }
}

/** `seq_id_decode_native(id)`: BIGINT sequence prefix of a seq-id, null if
  * the input is not a well-formed `<digits>::<suffix>` id. */
case class SeqIdDecodeExpr(child: Expression) extends UnaryExpression with Kernels.Named {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val v = SeqIdCodec.decodePrefix(input.asInstanceOf[UTF8String])
    if (v < 0) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val prefix = ctx.freshName("seqPrefix")
      s"""
         |long $prefix = graft.catalyst.SeqIdCodec.decodePrefix($c);
         |if ($prefix < 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $prefix; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SeqIdDecodeExpr =
    copy(child = newChild)
}
