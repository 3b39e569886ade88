package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 16-bit SimHash signature of a token array.
  *
  * Replaces the 16 per-bit `aggregate(toks, ...)` higher-order expressions
  * in the original q35 formulation — those run 16 interpreted passes and
  * recompute `md5(token)` for EVERY bit (16 digests per token). This is one
  * fused loop, one digest per token, inside whole-stage codegen via a
  * static helper call.
  *
  * Bit semantics (must stay oracle-equal): for token w and bit j, take hex
  * digit j/4 of md5(w), test bit (3 - j%4); the counter for j moves +1 on a
  * set bit else -1 (a null token contributes -1 to every bit, matching
  * `IF(null)`'s false branch). Output bit j is '1' iff its counter ≥ 0 —
  * so the empty array yields "1111111111111111", as the fold-from-0 does.
  */
case class SimHash16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash16 expects array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash16"

  override def nullSafeEval(in: Any): Any =
    SimHash16.compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimHash16.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash16 {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static helper invoked from both eval and generated code. */
  def compute(arr: ArrayData): UTF8String = {
    val acc = new Array[Int](16)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        var j = 0
        while (j < 16) { acc(j) -= 1; j += 1 }
      } else {
        val md = digest.get()
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // bits j=0..15 live in the first two digest bytes, high nibble
        // first; (d(j/8) >> (7 - j%8)) & 1 equals the hex-digit/bit-pos
        // arithmetic of the SQL formulation.
        var j = 0
        while (j < 16) {
          if (((d(j / 8) >> (7 - (j % 8))) & 1) == 1) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Byte](16)
    var j = 0
    while (j < 16) { out(j) = if (acc(j) >= 0) '1' else '0'; j += 1 }
    UTF8String.fromBytes(out)
  }

  def apply(c: Column): Column = NativeColumn(c)(es => SimHash16(es(0)))
}
