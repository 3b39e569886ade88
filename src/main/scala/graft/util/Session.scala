package graft.util

import org.apache.spark.sql.SparkSession

/** The one way a session is built: the mains, and the specs' shared
  * session. Session-wide policy is installed here, once, at build time;
  * no query sets a conf, registers a function or creates a view. */
object Session {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, no UI, parquet TIMESTAMP(NANOS) read as epoch-nanos
    * longs (the older events files, see [[graft.Tables.events]]) and the
    * SQL names of [[graft.GraftExtensions]]. `warehouseDir` overrides
    * Spark's default `./spark-warehouse`. Each main sets its own log level. */
  def local(cpus: String = Session.cpus,
            warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.GraftExtensions)
    warehouseDir.fold(b)(b.config("spark.sql.warehouse.dir", _)).getOrCreate()
  }
}
