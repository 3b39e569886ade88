package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Materialize

/** Document sinks (SURVEY.md §2.10).
  *
  * K1 (push_to_typesense.py:39-53) is a bulk **upsert** — last write wins per
  * `id`. The engine's parity sink materializes JSONL documents after a
  * last-wins dedup; a production deployment would swap the file write for a
  * foreachPartition HTTP bulk import against the search backend with the
  * same upstream dedup.
  *
  * K2 (geonames_place_index.py:45-53) is a plain JSON file side-output:
  * [[graft.pipelines.GeonamesPipeline]] writes it partitioned, one part file
  * per task; `JsonlSinkProvider` is the commit-protocol path.
  */
object Sinks {

  /** Last-write-wins dedup on `id` ordered by a version column — the upsert
    * semantics of K1 collapsed into the dataflow (idempotent re-runs).
    * `versionCol` should be unique per id (a timestamp or monotonic
    * sequence); equal versions resolve arbitrarily-but-deterministically
    * only if the rows are identical. */
  def upsertDedup(df: DataFrame, idCol: String, versionCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(versionCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** K1: JSONL document sink with upsert dedup. */
  def writeJsonlDocs(df: DataFrame, idCol: String, versionCol: String,
                     path: String): Unit =
    upsertDedup(df, idCol, versionCol).write.mode("overwrite").json(path)

  /** Copy-on-write MERGE into a partitioned parquet table — the file-level
    * half of [[graft.plans.Merge]]: only partitions the source actually
    * touches are read, merged (source wins per key), and rewritten via
    * DYNAMIC partition overwrite; untouched partitions are never read or
    * written. This is the rewrite-amplification bound a table format's
    * MERGE gives you, built from the open primitives: at 100 TB a CDC
    * delta touching k of N partitions costs O(k), not O(N).
    *
    * The target must be partitioned by `partCol`; `source` must carry it
    * with non-null values (a null partition value would land in Hive's
    * default partition and escape the isin prune). `partCol` must be a
    * STABLE function of the key: a delta row that moves a key to a new
    * partition value inserts there but cannot remove the old row (its
    * partition was never read) — the caller must include the old partition
    * value in the delta to migrate a key. No concurrent-writer isolation —
    * both are precisely what a table format's snapshot + file-index layer
    * adds on top of this relational core.
    */
  def mergeCow(spark: SparkSession, targetPath: String, source: DataFrame,
               keyCols: Seq[String], partCol: String): Unit = {
    val exists = new java.io.File(targetPath, "_SUCCESS").exists() ||
      new java.io.File(targetPath).list() != null &&
        new java.io.File(targetPath).list().exists(_.startsWith(s"$partCol="))
    val merged =
      if (!exists) source
      else {
        // Partition pruning: only the touched partitions are scanned —
        // the isin filter on the partition column prunes at planning
        // time (collect of the distinct partition values is bounded by
        // the partition count, not data size).
        val touched = source.select(col(partCol)).distinct()
          .collect().map(_.get(0)).toSeq
        // Read with the SOURCE's schema: partition-column type inference
        // would otherwise re-type numeric-looking string partition values
        // ("01" → 1) and silently rewrite them on merge. An explicit
        // schema sidesteps inference without touching session-global
        // conf (which would race concurrent reads on the same session).
        val current = spark.read.schema(source.schema).parquet(targetPath)
          .filter(col(partCol).isin(touched: _*))
        // Materialize BEFORE the write: the merged plan reads the same
        // files the dynamic overwrite is about to replace — an eager
        // checkpoint cuts that lineage (a table format gets this for
        // free from snapshot isolation).
        graft.plans.Merge.upsert(
          current.select(source.columns.map(col): _*), source, keyCols)
          .transform(Materialize.localCheckpoint(_))
      }
    // dynamic overwrite as a write option, so the session conf is untouched
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(targetPath)
  }
}
