package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.functions.Registry
import graft.model.Quad
import graft.pipelines.{GeonamesPipeline, PersonIndex, RdfSerialization}
import graft.plans.{SparqlAlgebra, TripleStore}
import graft.sinks.Sinks
import graft.sources.{GeonamesTsv, RdfIO}

/** End-to-end pipeline flows observed at their file outputs. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("§3.2 RDF serialization: rounds → R1 → dedup → N-Quads files") {
    val out = new java.io.File("target/tmp/apis-nquads").getAbsolutePath
    val quads = RdfSerialization.run(spark, "/root/testdata/sf0.001", out)
    // Read back the actual files and compare set-for-set.
    val back = RdfIO.readQuads(spark, out).collect().toSet
    assert(back == quads.collect().toSet)
    // R1 held: every (s, nation, o) has its inverse (o, has_member, s).
    val nation = back.filter(_.p == "nation").map(q => (q.s, q.o))
    val members = back.filter(_.p == "has_member").map(q => (q.o, q.s))
    assert(nation == members && nation.nonEmpty)
    // All quads carry the named graph.
    assert(back.forall(_.g == "urn:graph:apis"))
  }

  test("§3.2 RDF serialization: one shuffle, no object render, the typed " +
      "formulation's quads") {
    // reference: typed render → worklist round → inverse union → distinct
    val persons = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_nationkey").as[(Long, String, Int)].collect()
    val places = Tables.nation(spark, dir)
      .select("n_nationkey", "n_name", "n_regionkey").as[(Int, String, Int)].collect()
    val round1 = persons.toSeq.flatMap { case (k, name, n) =>
      Seq((s"C$k", "type", "E21_Person"), (s"C$k", "label", name), (s"C$k", "nation", s"N$n"))
    }
    val frontier = round1.filter(_._2 == "nation").map(_._3).toSet -- round1.map(_._1)
    val round2 = places.toSeq.filter(n => frontier(s"N${n._1}")).flatMap { case (k, name, r) =>
      Seq((s"N$k", "type", "E53_Place"), (s"N$k", "label", name), (s"N$k", "region", s"R$r"))
    }
    val triples = (round1 ++ round2).distinct
    val inverses = triples.filter(_._2 == "nation").map(t => (t._3, "has_member", t._1))
    val expected = (triples ++ inverses).toSet.map { t: (String, String, String) =>
      Quad("urn:graph:apis", t._1, t._2, t._3, if (t._2 == "label") "literal" else "iri")
    }
    val out = new java.io.File("target/tmp/apis-nquads-plan").getAbsolutePath
    val plans = capturedPlans { RdfSerialization.run(spark, dir, out) }
    assert(RdfIO.readQuads(spark, out).collect().toSet == expected)
    val written = plans.filter(_.toString.contains("InsertIntoHadoopFsRelation"))
    assert(written.length == 1, s"${plans.length} plans captured")
    val all = nodes(written.head)
    assert(all.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, written.head.toString)
    assert(!all.exists(_.nodeName.contains("MapPartitions")), written.head.toString)
  }

  test("§3.1 person index: documents are unique per id, and the JSONL sink " +
      "writes them as they are") {
    val docs = PersonIndex.documents(spark, dir)
    val rows = docs.collect()
    assert(rows.nonEmpty && rows.map(_.getAs[String]("id")).distinct.length == rows.length)
    val out = new java.io.File("target/tmp/person-docs").getAbsolutePath
    Sinks.writeJsonlDocs(docs, "id", "label", out)
    val back = spark.read.json(out).select(docs.columns.toSeq.map(col): _*).collect()
    assert(back.toSet == rows.toSet && back.length == rows.length)
  }

  test("§3.1 person index: one customer scan equals the BGP formulation, " +
      "and the sink's write runs one shuffle") {
    // reference: triple patterns → BGP join → DISTINCT → label service
    for (sf <- Seq(dir, s"${new java.io.File(dir).getParent}/sf0.01")) {
      val t = TripleStore.triples(spark, sf)
      val core = SparqlAlgebra.bgp(Seq(
        SparqlAlgebra.patternConstO(t, "type", "Person", "c"),
        SparqlAlgebra.pattern(t, "nation", "c", "n"),
        SparqlAlgebra.pattern(t, "label", "c", "name"))).distinct()
      val expected = SparqlAlgebra.labelService(core, TripleStore.langLabels(spark, sf),
          "n", "country", Seq("de", "en"))
        .select(
          Registry.normalizeId(concat(lit("http://raw.example/item/"), col("c")),
            "http://ex.org/entity/").as("id"),
          col("name"), col("country"),
          Registry.labelPlace(col("name"), col("country"), col("n")).as("label"))
        .collect()
      val docs = PersonIndex.documents(spark, sf).collect()
      assert(expected.nonEmpty && docs.toSet == expected.toSet, sf)
      assert(docs.length == expected.length, sf)
    }
    val out = new java.io.File("target/tmp/person-docs-plan").getAbsolutePath
    val plans = capturedPlans {
      Sinks.writeJsonlDocs(PersonIndex.documents(spark, dir), "id", "label", out)
    }
    val written = plans.filter(_.toString.contains("InsertIntoHadoopFsRelation"))
    assert(written.length == 1, s"${plans.length} plans captured")
    val all = nodes(written.head)
    assert(all.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, written.head.toString)
  }

  test("§3.3 TTL harvest: pages → named graph → N-Quads files") {
    // First chunk is real Turtle (prefixes + ';' continuation), second is a
    // bare N-Triples line — both arrive through the same turtle parse.
    val store = Seq(
      """@prefix p: <http://p/> .
        |@prefix c: <http://c/> .
        |<http://e/1> p:type c:Person ;
        |    p:label "Eins"@de .""".stripMargin,
      """<http://e/2> <http://p/type> <http://c/Place> .""")
    def fetch(offset: Long): Option[String] =
      if (offset / 10 < store.length) Some(store((offset / 10).toInt)) else None
    val out = new java.io.File("target/tmp/harvest-nquads").getAbsolutePath
    val quads = graft.pipelines.TtlHarvest.run(spark, fetch, 10, "urn:g:harvest", out)
    assert(quads.count() == 3)
    val back = RdfIO.readQuads(spark, out).collect()
    assert(back.forall(_.g == "urn:g:harvest"))
    assert(back.exists(q => q.o == "Eins" && q.oLang == "de"))
  }

  test("§7.2 slice 1: GeoNames TSV → documents → JSON side-output") {
    val dir = new java.io.File("target/tmp/geonames").getAbsolutePath
    // fixture written by GeonamesTsvSpec's layout; rebuild it here to be
    // order-independent across suites.
    val row = Seq(
      "2761369", "Vienna", "Vienna", "Wien,Vienne", "48.20849", "16.37208",
      "P", "PPLC", "AT", "", "09", "901", "", "", "1691468", "", "193",
      "Europe/Vienna", "2022-10-04").mkString("\t")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/one.tsv"), row + "\n")
    val out = new java.io.File("target/tmp/geonames-docs").getAbsolutePath
    GeonamesPipeline.run(spark, s"$dir/one.tsv", out)
    val docs = spark.read.json(out)
    val vienna = docs.collect()(0)
    assert(vienna.getAs[String]("id") == "https://sws.geonames.org/2761369/")
    assert(vienna.getAs[String]("label") == "Vienna (AT) - PPLC")
  }

  test("§7.2 slice 1: GeoNames writes one part file per input split, " +
      "with no single-writer coalesce") {
    val in = new java.io.File("target/tmp/geonames-splits").getAbsolutePath
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    for (f <- 0 until 3) {
      val rows = (0 until 4).map { r =>
        val id = 1000 * f + r
        Seq(id.toString, s"Place $id", s"Place $id", "", s"4$f.$r", s"1$r.$f",
          "P", "PPL", if (r % 2 == 0) "AT" else "", "", "09", "", "", "",
          s"${100 * id}", "", "193", "Europe/Vienna", "2022-10-04").mkString("\t")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/part-$f.tsv"),
        rows.mkString("", "\n", "\n"))
    }
    val out = new java.io.File("target/tmp/geonames-split-docs").getAbsolutePath
    val plans = capturedPlans { GeonamesPipeline.run(spark, in, out) }
    val written = plans.filter(_.toString.contains("InsertIntoHadoopFsRelation"))
    assert(written.length == 1, s"${plans.length} plans captured")
    assert(!nodes(written.head).exists(_.nodeName.contains("Coalesce")), written.head.toString)
    val parts = new java.io.File(out).list().filter(_.startsWith("part-"))
    assert(parts.length > 1, parts.mkString(", "))
    val expected = GeonamesTsv.toDocuments(GeonamesTsv.read(spark, in))
    val back = spark.read.schema(expected.schema).json(out).collect()
    assert(back.length == 12 && back.toSet == expected.collect().toSet)
  }
}
