package graft

import graft.generators.Worklist

/** Columnar render generators + worklist expansion (G2/G10 + J8). */
class GeneratorSpec extends SparkSpec {
  import spark.implicits._

  test("renderPerson emits type/label/nation reference") {
    val one = Seq((7L, "Ada", 3)).toDF("c_custkey", "c_name", "c_nationkey")
    val t = Worklist.renderPersons(one).as[(String, String, String)].collect().toSeq
    assert(t == Seq(
      ("C7", "type", "E21_Person"),
      ("C7", "label", "Ada"),
      ("C7", "nation", "N3")))
  }

  test("worklist expansion renders only referenced places (J8 anti-join)") {
    val dir = "/root/testdata/sf0.001"
    val triples = Worklist.expand(spark, dir)
    val placeSubjects = triples.filter($"p" === "type" && $"o" === "E53_Place")
      .select("s").as[String].collect().toSet
    val referenced = triples.filter($"p" === "nation")
      .select("o").as[String].collect().toSet
    assert(placeSubjects == referenced, "round 2 must render exactly the referenced frontier")
  }

  test("expansion output is a set (D4 idempotent graph semantics)") {
    val triples = Worklist.expand(spark, "/root/testdata/sf0.001")
    assert(triples.count() == triples.dropDuplicates("s", "p", "o").count())
  }
}
