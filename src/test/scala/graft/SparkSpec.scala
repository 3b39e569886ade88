package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** All physical nodes, descending through AQE wrappers: query stages
    * and reused exchanges are LeafExecNodes whose real subtree hangs off
    * a non-children field — a naive TreeNode walk never sees inside. */
  protected def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    Seq(p) ++ kids.flatMap(nodes)
  }

  /** Runs `body`, returning every physical plan any of its jobs executed
    * (listener callbacks are async — waits for the stream to go quiet). */
  protected def capturedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 5_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val n = plans.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }
}
