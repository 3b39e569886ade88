package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole forked test JVM, built with the engine's
  * own session policy (never stopped — the JVM exit tears it down; stopping
  * mid-run would break later suites). */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Session.local("4",
    warehouseDir = Some(new java.io.File("target/tmp/warehouse").getAbsolutePath))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
