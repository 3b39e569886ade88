package graft
import graft.util.Session
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [name substrings…] — extra args filter the
    // query set for targeted iteration (the driver passes exactly two)
    val (sfDir, outDir) = (args(0), args(1))
    val wanted = args.drop(2).toSeq
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    // Clear any previous run first: a stale result dir from an earlier run
    // would otherwise mask a query that crashes this run (check.py would
    // compare last run's output and pass).
    graft.util.Fs.deleteRecursively(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    def sel[A](m: Map[String, A]): Map[String, A] =
      if (wanted.isEmpty) m
      else m.filter { case (k, _) => wanted.exists(k.contains) }
    // Each query under a bounded await (round 13: one non-terminating
    // codegen compile zeroed the whole artifact; the watchdog turns that
    // into one red line and a complete run).
    val budget = graft.util.Watchdog.defaultTimeoutSec
    sel(SparkEntry.queries).foreach { case (name, fn) =>
      graft.util.Watchdog.run(spark.sparkContext, name, budget) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } match {
        case Right(_) => ()
        case Left(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = sel(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full declared-query list (superset of oracle_sql keys: includes
    // rows-only queries) so the local gate can flag a query that crashed
    // inside the try above and never produced a result directory.
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      sel(SparkEntry.queries).keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
