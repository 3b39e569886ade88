package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Hamming distance between two equal-length
  * strings (SimHash signatures). Single codegen'd byte loop — the pair-
  * filter hot path of SimHash near-dup detection, where an interpreted
  * per-character comparison would dominate the candidate join. Distance is
  * computed over bytes (signatures are ASCII '0'/'1'); unequal lengths
  * yield null (no silent truncation).
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming expects two string arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String].getBytes
    val b = r.asInstanceOf[UTF8String].getBytes
    if (a.length != b.length) null
    else {
      var d = 0; var i = 0
      while (i < a.length) { if (a(i) != b(i)) d += 1; i += 1 }
      java.lang.Integer.valueOf(d)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ab = ctx.freshName("ab")
      val bb = ctx.freshName("bb")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
        |byte[] $ab = $a.getBytes();
        |byte[] $bb = $b.getBytes();
        |if ($ab.length != $bb.length) {
        |  ${ev.isNull} = true;
        |} else {
        |  int $d = 0;
        |  for (int $i = 0; $i < $ab.length; $i++) {
        |    if ($ab[$i] != $bb[$i]) $d++;
        |  }
        |  ${ev.value} = $d;
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object HammingDistance {
  def apply(a: Column, b: Column): Column = NativeColumn(a, b)(es => HammingDistance(es(0), es(1)))
}
