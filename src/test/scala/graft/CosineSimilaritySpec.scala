package graft

import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

/** Native cosine expression: value correctness, null paths, SQL registry,
  * and codegen/interpreted agreement. */
class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Seq(1.0, 0.0), Seq(1.0, 0.0)),   // identical → 1
    (2L, Seq(1.0, 0.0), Seq(0.0, 1.0)),   // orthogonal → 0
    (3L, Seq(1.0, 2.0), Seq(-1.0, -2.0)), // opposite → -1
    (4L, Seq(0.0, 0.0), Seq(1.0, 1.0))    // zero norm → null
  ).toDF("id", "a", "b")

  test("values: identical/orthogonal/opposite/zero-norm") {
    val got = df.select($"id", round(CosineSimilarity($"a", $"b"), 9).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.0)
    assert(got(3L) == -1.0)
    assert(got(4L) == null)
  }

  test("null input propagates") {
    val d = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(d.select(CosineSimilarity($"a", $"b")).collect()(0).isNullAt(0))
  }

  test("SQL registration: usable via expr()") {
    val got = df.where($"id" === 3)
      .select(expr("cosine_sim(a, b)").as("c")).collect()(0).getDouble(0)
    assert(math.abs(got - (-1.0)) < 1e-12)
  }

  test("codegen and interpreted paths agree") {
    val vals = (1 to 64).map(_.toDouble)
    val d = Seq((vals, vals.reverse)).toDF("a", "b")
    val codegen = d.select(CosineSimilarity($"a", $"b")).collect()(0).getDouble(0)
    val expr1 = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(vals,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(vals.reverse,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    val interpreted = expr1.eval(null).asInstanceOf[Double]
    assert(codegen == interpreted)
  }
}
