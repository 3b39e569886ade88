package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.GeonamesTsv

/** §7.2 build-order slice 1: the GeoNames place-index pipeline — TSV scan
  * (S4) → document projection (P2) → JSON side-output (K2), the reference's
  * geonames_place_index.py:82-116 flow as one job, one task per input split:
  * the write keeps the scan's partitioning and writes one part file each.
  */
object GeonamesPipeline {

  def run(spark: SparkSession, tsvPath: String, outPath: String): DataFrame = {
    val docs = GeonamesTsv.toDocuments(GeonamesTsv.read(spark, tsvPath))
    docs.write.mode("overwrite").json(outPath)
    docs
  }
}
