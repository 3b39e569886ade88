package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Tables]]' schema memo: a path's schema is inferred once, a rewritten
  * path is inferred again, and a memoized read has exactly the schema a
  * plain `spark.read.parquet` infers. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** The number of Spark jobs `body` submits. The jobs are told apart by
    * job group; a sentinel job submitted after `body` marks the point by
    * which the listener bus has delivered every job `body` started. */
  private def jobsSubmittedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def inGroup(g: String)(f: => Any): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("tables-probe")(body)
      inGroup("tables-sentinel")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("tables-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("tables-sentinel"), "listener bus never delivered the sentinel")
      groups.asScala.count(_ == "tables-probe")
    } finally sc.removeSparkListener(listener)
  }

  test("a second read of an unchanged path submits no Spark job") {
    // the probe sees the inference job a plain read runs
    assert(jobsSubmittedBy(spark.read.parquet(s"$dir/customer.parquet")) >= 1)
    Tables.customer(spark, dir)
    assert(jobsSubmittedBy(Tables.customer(spark, dir)) == 0)
  }

  test("a path rewritten with another schema is inferred again") {
    val tmp = Files.createTempDirectory("graft-tables").toString
    val path = s"$tmp/customer.parquet"
    Seq((1L, "a")).toDF("c_custkey", "c_name").write.parquet(path)
    assert(Tables.customer(spark, tmp).schema.fieldNames.toSeq == Seq("c_custkey", "c_name"))
    Seq((2L, 2.5, "b")).toDF("c_custkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(path)
    val again = Tables.customer(spark, tmp)
    assert(again.schema == spark.read.parquet(path).schema)
    assert(again.schema.fieldNames.toSeq == Seq("c_custkey", "c_acctbal", "c_mktsegment"))
    assert(again.as[(Long, Double, String)].collect().toSeq == Seq((2L, 2.5, "b")))
  }

  test("every fixture table reads with the schema a plain read infers") {
    val readers = Seq[(String, (SparkSession, String) => DataFrame)](
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings)
    assert(readers.map(_._1).toSet + "events" == Tables.names.toSet)
    // each read twice: the first fills the memo, the second reads through it
    for ((name, read) <- readers; _ <- 1 to 2)
      assert(read(spark, dir).schema == spark.read.parquet(s"$dir/$name.parquet").schema, name)
    for (_ <- 1 to 2) {
      val events = Tables.events(spark, dir) // sets the nanos conf the plain read needs
      assert(events.schema ==
        Tables.deriveEventTime(spark.read.parquet(s"$dir/events.parquet")).schema)
    }
  }
}
