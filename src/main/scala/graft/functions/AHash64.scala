package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit average-hash (aHash) of a binary
  * payload, as a 64-char '0'/'1' string.
  *
  * Replaces the SQL formulation in [[graft.multimodal.Multimodal.aHash]]
  * (hex-tile → `transform(sequence(0,63), ...)` → `aggregate` →
  * `transform` + `concat_ws`), whose higher-order lambdas never enter
  * whole-stage codegen — 64+ interpreted lambda evaluations per row made
  * the hash stage the engine's one compute-bound interpreted hot path
  * (docs/SCALING.md q202 postmortem). This is one fused loop over at most
  * 64 bytes, inside codegen via a static helper call, same template as
  * [[SimHash16]] / [[MinHashSigs]].
  *
  * Bit semantics (must stay oracle-equal with the DuckDB CTE chain in
  * ComposeOps.ahashCtesSql): the 8×8 grid TILES the payload to 64 bytes —
  * pixel i is `payload(i % len) & 0xff` (a real decoder would downsample
  * the decoded image here; tiling keeps every pixel content-derived so the
  * hash is not length-dominated). Bit i is set iff the pixel exceeds the
  * grid mean, decided integer-exactly (`64·p_i > Σp`). The empty payload
  * grids to all zeros → all-'0' hash.
  */
case class AHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ahash64 expects binary, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "ahash64"

  override def nullSafeEval(in: Any): Any =
    AHash64.compute(in.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.AHash64.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AHash64 {

  /** Static helper invoked from both eval and generated code. */
  def compute(payload: Array[Byte]): UTF8String = {
    val out = new Array[Byte](64)
    if (payload.length == 0) {
      java.util.Arrays.fill(out, '0'.toByte)
      return UTF8String.fromBytes(out)
    }
    val pix = new Array[Int](64)
    var total = 0L
    var i = 0
    while (i < 64) {
      val p = payload(i % payload.length) & 0xff
      pix(i) = p
      total += p
      i += 1
    }
    i = 0
    while (i < 64) {
      out(i) = if (pix(i).toLong * 64L > total) '1' else '0'
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  def apply(c: Column): Column = NativeColumn(c)(es => AHash64(es(0)))
}
