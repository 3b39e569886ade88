package graft.pipelines

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.generators.Worklist
import graft.model.Quad
import graft.sources.RdfIO

/** §3.2 end-to-end: the APIS RDF-serialization pipeline shape
  * (get_data_apis_vanilla.py:1159-1291) as pure dataflow —
  * render rounds with worklist expansion → inverse-property rule (R1) →
  * set-dedup (D4) → N-Quads files (K3). The reference's global mutable
  * graph + thread pool becomes one declarative job: every triple and its
  * inverse is rendered in columns, and one `distinct` deduplicates them
  * (the sink's own dedup finds its input already partitioned on its keys
  * and adds no exchange). While the worklist joins broadcast (10 000 customers do), that
  * `distinct` is the plan's only shuffle.
  */
object RdfSerialization {

  /** Build the serialized graph for a scale dir; returns the quads written. */
  def run(spark: SparkSession, dir: String, outPath: String,
          graphName: String = "urn:graph:apis"): Dataset[Quad] = {
    import spark.implicits._
    // R1: inverse-property materialization at serialize time
    // (get_data_apis_vanilla.py:1064-1065), in the same row as its edge.
    val fwd = struct(col("s"), col("p"), col("o"))
    val inv = struct(col("o").as("s"), lit("has_member").as("p"), col("s").as("o"))
    val quads = Worklist.rounds(spark, dir)
      .select(explode(when(col("p") === "nation", array(fwd, inv))
        .otherwise(array(fwd))).as("t"))
      .select(col("t.s"), col("t.p"), col("t.o"))
      .distinct()
      .select(lit(graphName).as("g"), col("s"), col("p"), col("o"),
        // Term fidelity: label objects are literals, everything else in
        // this graph is an IRI (SURVEY.md §7.3 "Term fidelity").
        when(col("p") === "label", "literal").otherwise("iri").as("oType"),
        lit(null: String).as("oLang"), lit(null: String).as("oDatatype"))
      .as[Quad]
    RdfIO.writeQuads(quads, outPath)
    quads
  }
}
