package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: the 8-permutation Kirsch–Mitzenmacher
  * MinHash signature of a shingle array, in one fused loop.
  *
  * Replaces the HOF formulation in q34's pipeline —
  * `transform(transform(shingles, md5), hex→(a,b) struct)` followed by
  * EIGHT `array_min(transform(hp, ...))` passes — which allocates an
  * intermediate struct array per document, round-trips each digest through
  * hex text (`md5()` returns hex, `conv(substr(...))` parses it back),
  * and traverses the array nine times. This is one digest per shingle,
  * bytes→ints directly, all eight running minima updated in a single
  * traversal, inside whole-stage codegen via a static helper call.
  *
  * Arithmetic (must stay oracle-equal — the DuckDB twin mirrors the hex
  * formulation): a = digest bytes 0–3 big-endian unsigned (== the first 8
  * hex chars), b = bytes 4–7, perm_i = (a + i·b) mod 2^32 for i = 0..7,
  * signature element i = min over shingles. An empty or all-null shingle
  * array yields NULL (as `array_min` over empty does), which keeps the
  * downstream `concat`-built band key NULL — such documents never bucket.
  */
case class MinHashSigs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs expects array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(in: Any): Any =
    MinHashSigs.compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // nullSafeCodeGen (not defineCodeGen): compute() returns null for an
    // empty/all-null shingle array even when the child is non-null, so
    // the generated code must re-test ev.value.
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashSigs.compute($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigs {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private final val Mod = 4294967296L // 2^32

  /** Static helper invoked from both eval and generated code; returns
    * null when no non-null shingle exists (empty-array semantics of the
    * HOF formulation). */
  def compute(arr: ArrayData): ArrayData = {
    val mins = new Array[Long](8)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val md = digest.get()
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        val a = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val b = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var k = 0
        while (k < 8) {
          val p = (a + k * b) % Mod
          if (p < mins(k)) mins(k) = p
          k += 1
        }
      }
      i += 1
    }
    if (!seen) null else new GenericArrayData(mins)
  }

  def apply(c: Column): Column = NativeColumn(c)(es => MinHashSigs(es(0)))
}
