package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Registry
import graft.plans.{SparqlAlgebra, TripleStore}

/** §3.1 flagship: the person-index pipeline end-to-end — triple scan → BGP
  * join → DISTINCT core (D1 before decoration, sparql/wikidata-person.
  * sparql:4) → label-service decoration (J7) → document projection (P1) →
  * documents ready for the JSONL/bulk-import sink (K1), which upserts.
  *
  * One declarative plan: Catalyst fuses the predicate-pruned triple scans,
  * broadcasts the label pick, and the only wide shuffles are the BGP join
  * keys and the core's DISTINCT — the reference's 6-stage paginated loop
  * (wikidata_index.py:281-331) collapses into a single job.
  */
object PersonIndex {

  def documents(s: SparkSession, dir: String): DataFrame = {
    val t = TripleStore.triples(s, dir)
    val persons = SparqlAlgebra.patternConstO(t, "type", "Person", "c")
    val natOf   = SparqlAlgebra.pattern(t, "nation", "c", "n")
    val nameOf  = SparqlAlgebra.pattern(t, "label", "c", "name")
    val core = SparqlAlgebra.bgp(Seq(persons, natOf, nameOf)).distinct()
    val decorated = SparqlAlgebra.labelService(
      core, TripleStore.langLabels(s, dir), "n", "country", Seq("de", "en"))
    // The BGP core is distinct and the triple views are functional per
    // subject, so rows are already unique per id. K1's last-write-wins
    // upsert belongs to the sink (`Sinks.writeJsonlDocs` runs it).
    decorated.select(
      Registry.normalizeId(concat(lit("http://raw.example/item/"), col("c")),
        "http://ex.org/entity/").as("id"),
      col("name"),
      col("country"),
      Registry.labelPlace(col("name"), col("country"), col("n")).as("label"))
  }
}
