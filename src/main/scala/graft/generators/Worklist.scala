package graft.generators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Columnar render generators + worklist expansion (SURVEY.md §2.7, §3.2).
  *
  * The reference renders persons, collects referenced-but-unrendered
  * places/institutions in global worklists (get_data_apis_vanilla.py:
  * 1043-1046, 155-161), then runs exactly one expansion round over them
  * (:1249-1275). The engine replaces the mutable shared graph + worklists
  * with pure dataflow: each source row explodes into its `(s, p, o)`
  * triples in columns (one fused stage, no object round trip), referenced
  * ids are anti-joined (J8) against rendered subjects, and the second
  * round renders the frontier — a 2-level semi-naive expansion with a
  * fixed-point shape identical to [[graft.plans.Closure]] but
  * depth-bounded by the reference's own behavior.
  */
object Worklist {

  /** G2-shaped person render: type/label/nation-reference triples. */
  private[graft] def renderPersons(customer: DataFrame): DataFrame =
    render(customer, id("C", "c_custkey"), "E21_Person", col("c_name"),
      "nation", id("N", "c_nationkey"))

  /** G10-shaped place render. */
  private def renderPlaces(nation: DataFrame): DataFrame =
    render(nation, id("N", "n_nationkey"), "E53_Place", col("n_name"),
      "region", id("R", "n_regionkey"))

  /** A node IRI: its kind's prefix and the row's key, e.g. `C7`, `N3`. */
  private def id(prefix: String, key: String): Column =
    concat(lit(prefix), col(key).cast("string"))

  private def render(rows: DataFrame, s: Column, kind: String, label: Column,
                     refP: String, ref: Column): DataFrame = {
    def t(p: String, o: Column) = struct(s.as("s"), lit(p).as("p"), o.as("o"))
    rows.select(explode(array(t("type", lit(kind)), t("label", label), t(refP, ref))).as("t"))
      .select(col("t.s"), col("t.p"), col("t.o"))
  }

  /** Round 1 (persons) ∪ round 2 (places referenced by round 1 but not
    * rendered by it), as (s, p, o) rows, not deduplicated. Semi- and
    * anti-joins never multiply rows, so the frontier needs no `distinct`.
    * Every render emits one `type` triple per subject, so the rendered
    * subjects are those triples' `s`: one row per subject. */
  private[graft] def rounds(spark: SparkSession, dir: String): DataFrame = {
    val round1 = renderPersons(Tables.customer(spark, dir))
    val place = id("N", "n_nationkey")
    val frontier = Tables.nation(spark, dir)
      .join(round1.filter(col("p") === "nation"), place === col("o"), "left_semi")
      .join(round1.filter(col("p") === "type").select(col("s")), place === col("s"), "left_anti")
    round1.unionByName(renderPlaces(frontier))
  }

  /** The 2-round expansion, set-deduplicated (D4). Returns (s, p, o) rows. */
  def expand(spark: SparkSession, dir: String): DataFrame =
    rounds(spark, dir).dropDuplicates("s", "p", "o")
}
