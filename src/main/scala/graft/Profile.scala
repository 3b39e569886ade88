package graft
import graft.util.Session

/** Repeat one query in a warm session to separate JIT/codegen warmup from
  * steady-state cost: `runMain graft.Profile <sfDir> <queryName> [reps]`.
  * To profile under another conf, start the JVM with `-Dspark.<key>=<value>`:
  * Spark reads it into the SparkConf the session is built from. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    // each rep is one query scope, so no rep inherits another's cache
    (1 to reps).foreach { i => graft.util.Materialize.scoped {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      println(f"[profile] $name rep $i: build ${(t1 - t0) / 1e9}%.3f s + " +
        f"count ${(t2 - t1) / 1e9}%.3f s ($n rows)")
    }}
    spark.stop()
  }
}
