package graft

import graft.util.Session

/** Plan inspector: print the formatted physical plan of named queries (all
  * queries when no names given). Used to audit pushdown / broadcast /
  * whole-stage-codegen coverage per the 100 TB posture.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n========== $n ==========")
        graft.util.Materialize.scoped(fn(spark, sfDir).explain("formatted"))
      }
    }
    spark.stop()
  }
}
