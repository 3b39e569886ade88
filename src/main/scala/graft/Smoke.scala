package graft

import graft.util.Session

/** Local smoke runner mirroring the driver's entry check: run
  * SparkEntry.entry, print the row count and a sample. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, truncate = false)
    require(n > 0, "entry must return rows")
    spark.stop()
  }
}
