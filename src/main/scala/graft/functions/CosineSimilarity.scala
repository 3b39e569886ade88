package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity between two double arrays.
  *
  * The similarity-search operators (VectorOps q37/q38/q43) originally
  * composed `aggregate(zip_with(...))` higher-order functions; those
  * evaluate through lambda interpreters per element. This expression is a
  * single fused loop with `doGenCode`, so the dot product and both norms
  * come out of one pass inside whole-stage codegen — the preference order
  * of SURVEY.md §4.2 / the build brief: builtin composition → custom
  * Expression (this) → UDF (never).
  *
  * Semantics: null if either side is null, shorter-length prefix if lengths
  * differ (data ships fixed 64-dim vectors), null on zero norm. Sums
  * accumulate in ascending index order — deterministic across runs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $x = $a.getDouble($i);
        |  double $y = $b.getDouble($i);
        |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        |}
        |if ($na == 0.0 || $nb == 0.0) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def apply(a: Column, b: Column): Column =
    NativeColumn(a, b)(es => CosineSimilarity(es(0), es(1)))
}
