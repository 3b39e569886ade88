package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: unigram-LM Viterbi segmentation of an
  * unsegmented string against a scored piece vocabulary — the inference
  * step of a SentencePiece-style unigram tokenizer (Kudo 2018), the
  * missing sibling of the BPE pair (q130 trains merges, q218 applies
  * them).
  *
  * dp[i] = min over piece lengths j ≤ maxLen of dp[i−j] + cost(s[i−j..i)),
  * ties to the SHORTEST piece (largest start) — the same order as the
  * oracle's min(struct(cost, pieceLen)), decided INTEGER-exactly because
  * costs are pre-quantized to round(−ln(p)·10⁶) longs, so the whole DP
  * replays bit-identically in the DuckDB oracle's recursive CTE (which
  * carries a maxLen-wide sliding window of dp values per doc).
  * Unsegmentable inputs yield NULL; the empty string yields "".
  *
  * Why an Expression and not HOF `aggregate()`: the DP is an imperative
  * loop with early exits and backpointers — as a lambda chain it would be
  * interpreted per row (the q202 aHash lesson, docs/SCALING.md). Here it
  * is one fused loop inside whole-stage codegen; the vocabulary rides the
  * expression instance (constructor data, not a per-row child), is
  * serialized once with the plan, and the lookup table builds lazily per
  * executor.
  */
case class UnigramViterbi(child: Expression, pieces: Seq[String], costs: Seq[Long])
    extends UnaryExpression {

  require(pieces.length == costs.length, "pieces/costs length mismatch")

  @transient private lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    pieces.iterator.zip(costs.iterator).foreach { case (p, c) => m.put(p, c) }
    m
  }
  @transient private lazy val maxLen: Int =
    if (pieces.isEmpty) 0 else pieces.iterator.map(_.length).max

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unigram_viterbi expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "unigram_viterbi"

  override def nullSafeEval(in: Any): Any =
    UnigramViterbi.compute(in.asInstanceOf[UTF8String], table, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tab = ctx.addReferenceObj("viterbiVocab", table,
      classOf[java.util.HashMap[String, java.lang.Long]].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.UnigramViterbi.compute($c, $tab, $maxLen);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramViterbi {

  private val NoPath = Long.MaxValue

  /** Static helper invoked from both eval and generated code. Returns the
    * '|'-joined best segmentation, null when unsegmentable. */
  def compute(in: UTF8String,
              table: java.util.HashMap[String, java.lang.Long],
              maxLen: Int): UTF8String = {
    val s = in.toString
    val n = s.length
    if (n == 0) return UTF8String.EMPTY_UTF8
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1) // chosen piece length ending at i
    var i = 1
    dp(0) = 0L
    while (i <= n) { dp(i) = NoPath; i += 1 }
    i = 1
    while (i <= n) {
      // j ascending with <=: the LAST equal-cost start wins, i.e. the
      // largest start = the SHORTEST piece — the oracle's
      // min(struct(cost, pieceLen)) tie order
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (dp(j) != NoPath) {
          val c = table.get(s.substring(j, i))
          if (c != null && dp(j) + c <= dp(i)) {
            dp(i) = dp(j) + c
            back(i) = i - j
          }
        }
        j += 1
      }
      i += 1
    }
    if (dp(n) == NoPath) return null
    // backtrack, then reverse-join
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) {
      parts += s.substring(pos - back(pos), pos)
      pos -= back(pos)
    }
    UTF8String.fromString(parts.reverseIterator.mkString("|"))
  }

  /** Segments `c` against this vocabulary; the vocabulary rides the
    * expression, so each call carries its own. */
  def apply(c: Column, pieces: Seq[String], costs: Seq[Long]): Column =
    NativeColumn(c)(es => UnigramViterbi(es(0), pieces, costs))
}
