package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Registry
import graft.plans.TripleStore

/** §3.1 flagship: the person-index pipeline end-to-end — the BGP core
  * `?c type Person . ?c nation ?n . ?c label ?name` (sparql/wikidata-person.
  * sparql:4) → DISTINCT → label-service decoration (J7) → document
  * projection (P1) → documents ready for the JSONL/bulk-import sink (K1),
  * which upserts.
  *
  * One customer scan answers the BGP: the only `type Person` arm of
  * [[TripleStore.triples]] is customer, and each `C` subject's `nation` and
  * `label` triples come from its own row, so the core is the customer rows
  * with a non-null key (the join drops null subjects), and grouping by the
  * projected row is its DISTINCT. The label pick is a broadcast left join
  * of the ranked `langLabels` keeping the least `(rank, label)` per row —
  * the order `labelService`'s `row_number` takes. The rows are
  * hash-partitioned on `id` before that grouping, so it and the sink's
  * upsert window (partitioned by `id`) run over that one shuffle.
  */
object PersonIndex {

  def documents(s: SparkSession, dir: String): DataFrame = {
    val rank = array_position(lit(Array("de", "en")), col("lang"))
    val labels = TripleStore.langLabels(s, dir).filter(rank > 0)
      .select(col("entity"), struct(rank.as("rank"), col("label")).as("pick"))
    Tables.customer(s, dir).filter(col("c_custkey").isNotNull)
      .select(
        Registry.normalizeId(concat(lit("http://raw.example/item/C"),
          col("c_custkey").cast("string")), "http://ex.org/entity/").as("id"),
        col("c_name").as("name"),
        concat(lit("N"), col("c_nationkey").cast("string")).as("n"))
      .repartition(col("id"))
      .join(broadcast(labels), col("n") === col("entity"), "left_outer")
      .groupBy("id", "name", "n").agg(coalesce(min("pick")("label"), col("n")).as("country"))
      .select(col("id"), col("name"), col("country"),
        Registry.labelPlace(col("name"), col("country"), col("n")).as("label"))
  }
}
