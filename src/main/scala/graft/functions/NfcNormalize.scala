package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization (canonical
  * decomposition + canonical composition, UAX #15).
  *
  * The first normalization pass every text pipeline runs: crawled text
  * arrives with the SAME grapheme in mixed encodings ("é" as U+00E9 vs
  * "e"+U+0301), which silently breaks exact dedup keys, shingle hashes,
  * and vocabulary counts. Spark has no built-in for it (and a Scala UDF
  * would serialize through an interpreted boundary), so this is a
  * codegen'd UnaryExpression over a static helper — stays inside
  * whole-stage codegen like [[SimHash16]].
  *
  * The helper short-circuits on the common case: `Normalizer.isNormalized`
  * is a cheap scan that avoids allocating for the (overwhelmingly
  * dominant) already-NFC input, returning the input UTF8String unchanged.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(in: Any): Any =
    NfcNormalize.compute(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.NfcNormalize.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {

  /** Static helper invoked from both eval and generated code. */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def apply(c: Column): Column = NativeColumn(c)(es => NfcNormalize(es(0)))
}
