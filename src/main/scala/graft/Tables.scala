package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs unchanged from sf0.001 (smoke) to a 100 TB lake — nothing here
  * hard-codes row counts or collects to the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads `dir/name.parquet` with the schema [[schemaOf]] remembers, so
    * only the first read of a path pays Spark's schema-inference job. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaOf(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  private type Fingerprint = Seq[(String, Long, Long)]

  /** (qualified path, inference confs) → (fingerprint, schema) */
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), (Fingerprint, StructType)]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per path.
    * A plain read runs a one-task footer-reading job each time, and a
    * long-lived session reads the same few tables in every query. The memo
    * is keyed on the qualified path and on the session confs that steer
    * inference (`nanosAsLong` among them), and it holds the (name,
    * length, mtime) of every file under the path, so a rewritten path is
    * inferred again. None for a missing path: the plain read reports it. */
  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(p)
    if (!fs.exists(qualified)) None
    else {
      val files = ArrayBuffer.empty[(String, Long, Long)]
      val it = fs.listFiles(qualified, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val fingerprint: Fingerprint = files.sorted.toSeq
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      }
      val key = (qualified.toString, confs)
      Option(schemas.get(key)).collect { case (`fingerprint`, s) => s }.orElse {
        val s = spark.read.parquet(path).schema
        schemas.put(key, (fingerprint, s))
        Some(s)
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark 4
    * refuses by default; [[graft.util.Session.local]] builds every session
    * with `nanosAsLong`, so it reads as a long) and, in newer generator
    * runs, as a plain microsecond TIMESTAMP. [[deriveEventTime]]
    * normalizes either file schema to the same two columns, so every query
    * and oracle is generator-version-independent. */
  def events(s: SparkSession, d: String): DataFrame =
    deriveEventTime(apply(s, d, "events"))

  /** Shared ts derivation for batch and streaming reads of the events
    * files, normalizing both on-disk generations to the same shape:
    * `ts_ns` = INT64 epoch nanoseconds, `ts` = session-TZ µs timestamp.
    *
    *  - nanos files (ts read as long): floor-convert with INTEGER division
    *    (`div`) — float division corrupts the microsecond floor at
    *    ~1.7e18 ns epochs, and this is the invariant every events oracle
    *    depends on.
    *  - µs-timestamp files (TIMESTAMP or TIMESTAMP_NTZ): `ts_ns` is the
    *    µs count ×1000 (NTZ values are UTC instants by generator
    *    convention; the session runs UTC, so the NTZ→LTZ cast is
    *    value-preserving). */
  def deriveEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    // The NTZ→LTZ cast below reads the session timezone; the ts_ns
    // invariant (NTZ wall-clock = UTC instant, generator convention)
    // only holds under UTC. Bench/Verify/tests set it at session build;
    // FAIL LOUDLY otherwise instead of silently rewriting session state
    // (overwriting here would flip every later timestamp parse in the
    // caller's session to UTC as a hidden side effect).
    val tz = raw.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"deriveEventTime requires spark.sql.session.timeZone=UTC (found " +
        s"'$tz'): the events ts_ns invariant is defined on UTC instants — " +
        "set the session timezone at build time instead of relying on " +
        "this reader to mutate it")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", col("ts_ns").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
