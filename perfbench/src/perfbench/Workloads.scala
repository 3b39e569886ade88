package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipelines.{GeonamesPipeline, PersonIndex, RdfSerialization, TtlHarvest}
import graft.sinks.Sinks

/** One benchmark operation.
  *
  * `build` is the call into the engine's public function: for a query it
  * returns the (lazy) result frame, running whatever eager jobs the query
  * function runs itself; for a pipeline it is the whole pipeline,
  * including its write. `finish` is the operation's final action. Both are
  * timed. `readBack` (pipelines only) reads the written files back for the
  * output check and is not timed. `expectRows` is an independently known
  * output record count, where one exists. */
final case class Op(
    name: String,
    build: SparkSession => DataFrame,
    finish: DataFrame => Digest,
    readBack: Option[SparkSession => DataFrame] = None,
    expectRows: Option[Long] = None)

/** A workload: its operations over inputs generated for one seed. */
final case class Workload(name: String, ops: Seq[Op])

object Workloads {
  /** Workload sizes and operation lists from perfbench/workloads.json,
    * passed in by run.py as -Dperfbench.<key> properties. */
  private def conf(key: String): String =
    sys.props.getOrElse(s"perfbench.$key", sys.error(s"-Dperfbench.$key is not set"))
  private def list(key: String): Seq[String] = conf(key).split(',').toSeq
  private def int(key: String): Int = conf(key).toInt

  private def query(name: String, dir: Path): Op = {
    val fn = graft.SparkEntry.queries(name)
    Op(name, s => fn(s, dir.toString), Check.digest)
  }

  /** The workload over the seed's inputs (generated by gen.py);
    * pipelines write under `out`. */
  def load(name: String, seedDir: Path, out: Path): Workload = {
    require(Files.exists(seedDir.resolve(s"$name.ready")), s"$name inputs missing in $seedDir")
    name match {
      case "sparql-session" =>
        Workload(name, list("sparql_queries").map(query(_, seedDir.resolve("sparql"))))
      case "corpus-scaled" =>
        Workload(name, list("corpus_queries").map(query(_, seedDir.resolve("corpus"))))
      case "etl-pipelines" =>
        Workload(name, etlOps(seedDir.resolve("etl"), out))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private val noAction: DataFrame => Digest = _ => Digest(0L, "")

  /** The reference's four pipelines. Expected record
    * counts follow from the generator: one document per GeoNames row;
    * five statements per Turtle person; per customer three rendered
    * triples plus one inverse, plus three per referenced nation; one
    * person document per customer. */
  private def etlOps(in: Path, out: Path): Seq[Op] = {
    val customers = int("etl_customers").toLong
    val (turtlePages, turtlePerPage) = (int("turtle_pages"), int("turtle_per_page"))
    val pages = in.resolve("pages")
    val pageFiles = (0 until turtlePages).map(p => pages.resolve(f"page-$p%05d.ttl"))
    def fetch(offset: Long): Option[String] =
      pageFiles.lift(offset.toInt).map(f =>
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    def text(dir: Path): SparkSession => DataFrame = _.read.text(dir.toString)
    Seq(
      Op("geonames", s => GeonamesPipeline.run(s,
        in.resolve("geonames").toString, out.resolve("geonames").toString),
        noAction, Some(_.read.json(out.resolve("geonames").toString)),
        Some(int("geonames_rows").toLong)),
      Op("ttl-harvest", s => TtlHarvest.run(s, fetch, 1L,
        "urn:graph:harvest", out.resolve("ttl").toString).toDF(),
        noAction, Some(text(out.resolve("ttl"))),
        Some(turtlePages.toLong * turtlePerPage * 5)),
      Op("rdf-serialization", s => RdfSerialization.run(s,
        in.resolve("source").toString, out.resolve("nquads").toString).toDF(),
        noAction, Some(text(out.resolve("nquads"))),
        Some(customers * 4 + 25 * 3)),
      Op("person-index", { s =>
        val docs = PersonIndex.documents(s, in.resolve("source").toString)
        Sinks.writeJsonlDocs(docs, "id", "label", out.resolve("persons").toString)
        docs
      }, noAction, Some(_.read.json(out.resolve("persons").toString)),
        Some(customers)))
  }
}
