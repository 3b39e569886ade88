package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AHash64, CosineSimilarity, HammingDistance, MinHashSigs, NfcNormalize, SimHash16}

/** SparkSessionExtensions injector: the SQL names of the engine's native
  * Catalyst expressions. The engine itself never looks a native up by name
  * (each companion's `apply` builds its expression as a Column directly);
  * these names are for SQL text. [[graft.util.Session.local]] installs them
  * on every session it builds, and a cluster gets them by adding
  * `spark.sql.extensions=graft.GraftExtensions`. `unigram_viterbi` has no
  * entry: its vocabulary is part of the expression, not a SQL argument.
  *
  * This is the extension-point ladder of SURVEY.md §4.2 made concrete:
  * builtins compose the bulk of the engine; the fused-loop expressions
  * ride the injection hook; no custom Rule/Strategy is needed because every
  * operator shape lowers to Catalyst-visible plans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** `name` bound to `build`, refusing a wrong argument count with a proper
    * analyzer error rather than an IndexOutOfBounds from inside `build`. */
  private def fn(name: String, cls: Class[_], n: Int)
                (build: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), es => {
      if (es.length != n) throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${es.length}")
      build(es)
    })

  /** The injectable function set: every native with a fixed builder. */
  val functions: Seq[FunctionDescription] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity], 2)(es => CosineSimilarity(es(0), es(1))),
    fn("hamming_dist", classOf[HammingDistance], 2)(es => HammingDistance(es(0), es(1))),
    fn("simhash16", classOf[SimHash16], 1)(es => SimHash16(es(0))),
    fn("minhash_sigs", classOf[MinHashSigs], 1)(es => MinHashSigs(es(0))),
    fn("ahash64", classOf[AHash64], 1)(es => AHash64(es(0))),
    fn("nfc_normalize", classOf[NfcNormalize], 1)(es => NfcNormalize(es(0))))
}
