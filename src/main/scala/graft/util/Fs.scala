package graft.util

/** Small local-filesystem helpers shared by the test-scale tooling (Verify
  * output reset, bucketed-table cleanup). */
object Fs {
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Per-JVM scratch directory for deterministic on-disk fixtures
    * (q205/q215 style): keyed on the dataset dir so within-JVM re-runs
    * reuse the path, PLUS a per-process tag so two JVMs (bench A/B,
    * parallel test runs) against the same dataset cannot delete each
    * other's fixture mid-read. */
  private lazy val processTag: String =
    java.lang.Long.toHexString(ProcessHandle.current().pid())

  def scratchDir(prefix: String, key: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      prefix + "_" + java.util.UUID.nameUUIDFromBytes(
        key.getBytes("UTF-8")).toString.take(8) + "_" + processTag)
      .getAbsolutePath

  /** Driver-side Hadoop conf: the active session's (so `spark.hadoop.*`
    * settings — s3a credentials, endpoints, default FS — reach the
    * custom sources), falling back to a blank conf only when no session
    * exists (fixture writers in test setup). Executor-side readers must
    * instead receive a [[org.apache.spark.util.SerializableConfiguration]]
    * captured at scan-build time. */
  def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
}
