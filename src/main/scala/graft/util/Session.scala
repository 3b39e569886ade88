package graft.util

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains build their session. */
object Session {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time and no UI. Each main sets its own log level. */
  def local(cpus: String = Session.cpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
