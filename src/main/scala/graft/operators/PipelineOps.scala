package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.generators.Worklist
import graft.multimodal.Multimodal
import graft.pipelines.PersonIndex
import graft.plans.TripleStore

/** End-to-end pipeline queries: columnar render generators with worklist
  * expansion (§2.7/§3.2), multimodal feature extraction, and the §3.1
  * flagship person-index document pipeline.
  */
object PipelineOps {

  /** G2/G10 + J8: 2-round semi-naive render expansion
    * (get_data_apis_vanilla.py:1249-1275). */
  def q44WorklistExpand(s: SparkSession, dir: String): DataFrame =
    Worklist.expand(s, dir)

  /** Multimodal decode plumbing: binary payloads → per-partition feature
    * extraction (stubbed codec, real schema/partitioning). */
  def q45MultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The events table is one parquet split at bench scale and the stub
    // decode is interpreted per-row work — repartition so the decode
    // parallelizes instead of running in a single task (the q321/q34
    // repartition rationale; id+payload rows, negligible shuffle next to
    // any real codec).
    Multimodal.extractFeatures(
      Multimodal.mediaFromEvents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)).toDF()
  }

  /** §3.1 person-index pipeline: the BGP core read as one customer scan →
    * broadcast label pick → doc projection (unique per id by construction;
    * the sink upserts). */
  def q46PersonIndex(s: SparkSession, dir: String): DataFrame =
    PersonIndex.documents(s, dir)

  /** S1/S5 as a DataSourceV2 scan ([[graft.sources.PagedSourceProvider]]):
    * 6 pages × 200 rows pulled as one InputPartition per page, then a
    * per-page integrity summary. The sfDir parameter is unused — the source
    * stands in for a remote endpoint, not the lake. */
  def q72PagedSource(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.PagedSourceProvider")
      .option("pages", 6).option("pageSize", 200).load()
      .groupBy(col("page"))
      .agg(count(lit(1)).as("n"),
        min(col("payload")).as("min_payload"),
        max(col("payload")).as("max_payload"),
        sum(col("id")).as("id_sum"))

  /** S4+P2 end-to-end: the GeoNames pipeline (TSV scan with the 19-column
    * injected schema → document projection with url-template id, composed
    * label, typed coordinates) oracle-checked. The TSV is synthesized
    * driver-side from the nation table (25 rows — standing in for the
    * unzip of the cities1000 dump, which is a driver-side fetch in the
    * reference too, geonames_place_index.py:13-25); every derived value is
    * recomputable from nation in the oracle. */
  def q80GeonamesDocs(s: SparkSession, dir: String): DataFrame = {
    import java.util.Locale
    val rows = graft.Tables.nation(s, dir)
      .selectExpr("CAST(n_nationkey AS LONG)", "n_name", "CAST(n_regionkey AS LONG)")
      .collect()
    val tsv = rows.map { r =>
      val (key, name, region) = (r.getLong(0), r.getString(1), r.getLong(2))
      val lat = String.format(Locale.ROOT, "%.1f", Double.box(key - 10.5))
      val lng = String.format(Locale.ROOT, "%.1f", Double.box(region * 30.0 + 0.5))
      Seq(key.toString, name, name.toLowerCase(Locale.ROOT), "",
        lat, lng, "P", s"PPL${key % 3}", s"R$region", "", "", "", "", "",
        (key * 1000).toString, "", "", "UTC", "2026-01-01").mkString("\t")
    }
    // Stable per-sfDir location, overwritten each call — repeated bench/
    // profile invocations must not accumulate orphan temp dirs.
    val path = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft-geonames-${Integer.toHexString(dir.hashCode)}")
    java.nio.file.Files.createDirectories(path)
    java.nio.file.Files.write(path.resolve("nations.tsv"),
      tsv.mkString("\n").getBytes("UTF-8"))
    graft.sources.GeonamesTsv.toDocuments(
      graft.sources.GeonamesTsv.read(s, path.toString))
      .select(col("id"), col("label"), col("name"), col("country"),
        col("feature_code"),
        col("coordinates").getItem(0).as("lat"),
        col("coordinates").getItem(1).as("lng"))
  }

  /** WARC ingest e2e (ISO 28500 — the Common Crawl segment format, i.e.
    * the wire format a web-scale pretraining corpus actually arrives
    * in): events serialize to spec-framed .warc segment files (one
    * warcinfo record + response records, CRLF framing, Content-Length
    * payloads), [[graft.sources.WarcSourceProvider]] parses them back
    * file-per-partition, and the report keys each response by target
    * URI with its byte length and body digest. Disk stands in for the
    * fetched archive (q205's fixture convention); a live pipeline reads
    * identical framing off the crawl bucket. */
  def q215WarcIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.WarcIO
    val fixDir = graft.util.Fs.scratchDir("graft_warc", dir)
    val fsPath = new org.apache.hadoop.fs.Path(fixDir)
    val fs = fsPath.getFileSystem(graft.util.Fs.hadoopConf())
    fs.delete(fsPath, true)
    fs.mkdirs(fsPath)
    // bounded fixture generation (event_id < 2000): two segment files,
    // each led by a warcinfo record with no Target-URI (the NULL-header
    // path the reader must survive)
    val evs = graft.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id").cast("long"), col("props"))
      .collect().sortBy(_.getLong(0))
    evs.grouped(1000).zipWithIndex.foreach { case (seg, i) =>
      val info = WarcIO.WarcRecord("warcinfo", s"<urn:uuid:seg-$i>", None,
        "2024-01-01T00:00:00Z", Some("application/warc-fields"),
        s"segment: $i\r\n".getBytes("UTF-8"))
      val responses = seg.map { r =>
        WarcIO.WarcRecord("response", s"<urn:uuid:rec-${r.getLong(0)}>",
          Some(s"http://crawl.example/e/${r.getLong(0)}"),
          "2024-01-01T00:00:00Z", Some("text/plain"),
          r.getString(1).getBytes("UTF-8"))
      }
      WarcIO.writeWarc(new java.io.File(fixDir, f"segment-$i%03d.warc").getPath,
        info +: responses.toSeq)
    }
    WarcIO.read(s, fixDir)
      .filter(col("warc_type") === "response")
      .select(col("target_uri"), col("content_length"),
        md5(col("body")).as("body_md5"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q215_warc_ingest"        -> q215WarcIngest _,
    "q44_worklist_expand"     -> q44WorklistExpand _,
    "q45_multimodal_features" -> q45MultimodalFeatures _,
    "q46_person_index"        -> q46PersonIndex _,
    "q72_paged_source"        -> q72PagedSource _,
    "q80_geonames_docs"       -> q80GeonamesDocs _
  )

  val oracles: Map[String, String] = Map(
    "q215_warc_ingest" ->
      """SELECT 'http://crawl.example/e/'||CAST(event_id AS VARCHAR)
                  AS target_uri,
                CAST(octet_length(encode(props)) AS BIGINT)
                  AS content_length,
                md5(props) AS body_md5
         FROM events WHERE event_id < 2000""",
    "q80_geonames_docs" ->
      """SELECT 'https://sws.geonames.org/'||CAST(n_nationkey AS VARCHAR)||'/' AS id,
                n_name||' (R'||CAST(n_regionkey AS VARCHAR)||') - PPL'
                  ||CAST(n_nationkey % 3 AS VARCHAR) AS label,
                lower(n_name) AS name,
                'R'||CAST(n_regionkey AS VARCHAR) AS country,
                'PPL'||CAST(n_nationkey % 3 AS VARCHAR) AS feature_code,
                CAST(n_nationkey AS DOUBLE) - 10.5 AS lat,
                CAST(n_regionkey AS DOUBLE) * 30.0 + 0.5 AS lng
         FROM nation""",
    "q72_paged_source" ->
      """WITH g AS (SELECT p.page, r.i,
                    md5(CAST(p.page AS VARCHAR)||':'||CAST(r.i AS VARCHAR)) AS payload,
                    p.page * 200 + r.i AS id
               FROM range(0, 6) p(page), range(0, 200) r(i))
         SELECT CAST(page AS INTEGER) AS page, count(*) AS n,
                min(payload) AS min_payload, max(payload) AS max_payload,
                CAST(sum(id) AS BIGINT) AS id_sum
         FROM g GROUP BY 1""",
    "q44_worklist_expand" ->
      """SELECT 'C'||CAST(c_custkey AS VARCHAR) AS s, 'type' AS p, 'E21_Person' AS o FROM customer
         UNION ALL SELECT 'C'||CAST(c_custkey AS VARCHAR), 'label', c_name FROM customer
         UNION ALL SELECT 'C'||CAST(c_custkey AS VARCHAR), 'nation', 'N'||CAST(c_nationkey AS VARCHAR) FROM customer
         UNION ALL SELECT 'N'||CAST(n_nationkey AS VARCHAR), 'type', 'E53_Place' FROM nation
           WHERE n_nationkey IN (SELECT DISTINCT c_nationkey FROM customer)
         UNION ALL SELECT 'N'||CAST(n_nationkey AS VARCHAR), 'label', n_name FROM nation
           WHERE n_nationkey IN (SELECT DISTINCT c_nationkey FROM customer)
         UNION ALL SELECT 'N'||CAST(n_nationkey AS VARCHAR), 'region', 'R'||CAST(n_regionkey AS VARCHAR) FROM nation
           WHERE n_nationkey IN (SELECT DISTINCT c_nationkey FROM customer)""",
    "q45_multimodal_features" ->
      """SELECT event_id AS media_id, event_type AS kind,
         CAST(octet_length(encode(props)) AS BIGINT) AS n_bytes,
         ascii(substr(props, 1, 1)) AS first_byte,
         ascii(substr(props, -1, 1)) AS last_byte,
         md5(props) AS checksum
         FROM events""",
    "q46_person_index" ->
      s"""WITH labels AS (${TripleStore.langLabelsSql}),
         ranked AS (
           SELECT entity, label,
                  row_number() OVER (PARTITION BY entity
                    ORDER BY CASE lang WHEN 'de' THEN 1 WHEN 'en' THEN 2 END, label) AS rn
           FROM labels WHERE lang IN ('de','en')),
         pick AS (SELECT entity, label FROM ranked WHERE rn = 1),
         core AS (
           SELECT 'C'||CAST(c_custkey AS VARCHAR) AS c, c_name AS name,
                  'N'||CAST(c_nationkey AS VARCHAR) AS n
           FROM customer)
         SELECT 'http://ex.org/entity/'||c AS id, name,
                coalesce(p.label, n) AS country,
                name||' ('||coalesce(p.label, n)||')'||' - '||n AS label
         FROM core LEFT JOIN pick p ON core.n = p.entity"""
  )
}
