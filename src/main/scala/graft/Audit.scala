package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.util.Session

/** Board-wide plan-posture audit: runs every SparkEntry query at the
  * given SF under a QueryExecutionListener and reports, per query, the
  * scale-hazard shapes the round-11 verdict hunted by hand —
  * unpartitioned windows (with whether an aggregate feeds them, the
  * bounded-offset exemption), conditioned nested-loop joins, and
  * cartesian products. `PlanPostureSpec` pins the five fixed queries;
  * this main sweeps the WHOLE board so a new query with a regressed
  * posture is one `runMain graft.Audit <sfDir>` away from being named.
  * It also fails any query that leaves the session changed: its conf, its
  * function names or its temporary views ([[sessionState]]).
  *
  * Usage: runMain graft.Audit [sfDir] [name substrings...]
  */
object Audit {
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    // a cached frame keeps its provenance: descend into the cached plan
    // so "window over persisted strata aggregate" stays recognizably
    // aggregate-fed (a localCheckpoint erases this — bounded frames that
    // feed windows therefore persist() instead, per docs/SCALING.md
    // "Global-sort audit")
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    Seq(p) ++ kids(p).flatMap(nodes)

  /** Row-preserving / wrapper nodes that sit between an operator and its
    * semantic input without changing its cardinality class: safe to look
    * through when deciding whether an aggregate FEEDS a window or sort.
    * Generate/Join/Expand/Union are deliberately absent — an aggregate on
    * the far side of one of those no longer bounds the rows the operator
    * actually consumes (the round-12 advisor's counterexample: an
    * aggregate joined back to per-row data, then windowed, was wrongly
    * exempted by the any-descendant rule). */
  private val lookThrough = Set("Project", "Filter", "Sort", "Exchange",
    "BroadcastExchange", "AQEShuffleRead", "InputAdapter", "ColumnarToRow",
    "Coalesce", "LocalLimit", "GlobalLimit")

  private def isWrapper(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec |
         _: ReusedExchangeExec | _: InMemoryTableScanExec => true
    // EXACT nodeName match — a startsWith here made "Sort" swallow
    // SortMergeJoin (descending only its left child: an aggregate on the
    // join's left wrongly exempted a per-row window) and SortAggregate
    // (a legitimately aggregate-fed window spuriously failed the gate).
    // WholeStageCodegen is the one prefix case: its nodeName carries the
    // codegen stage id ("WholeStageCodegen (3)").
    case other => lookThrough.contains(other.nodeName) ||
      other.nodeName.startsWith("WholeStageCodegen")
  }

  /** The first cardinality-relevant node at or below `p`: unwraps AQE
    * stages and row-preserving wrappers, stops at everything else. */
  private def firstSemantic(p: SparkPlan): SparkPlan =
    if (isWrapper(p) && kids(p).nonEmpty) firstSemantic(kids(p).head) else p

  /** The bounded-input exemption: the operator's DIRECT semantic input
    * is cardinality-BOUNDED — an aggregate, or a join ALL of whose
    * inputs are themselves bounded (bounded ⋈ bounded stays bounded:
    * the waterfill/apportionment shape is strata-agg ⋈ broadcast 1-row
    * agg). A join with ANY per-row side stays unexempt — that is the
    * round-12 counterexample (an aggregate joined back to per-row data,
    * then windowed) this rule exists to catch. (All aggregate exec
    * names contain "Aggregate"; all join execs contain "Join" except
    * CartesianProduct.) */
  private def aggregateFed(child: SparkPlan): Boolean = {
    val s = firstSemantic(child)
    if (s.nodeName.contains("Aggregate")) true
    else if (s.nodeName.contains("Join") ||
        s.nodeName == "CartesianProduct")
      kids(s).nonEmpty && kids(s).forall(aggregateFed)
    else false
  }

  /** Global (cross-partition) sorts that are NOT the query's final
    * output ordering: a mid-pipeline `orderBy` plans a full range
    * exchange + per-partition sort — fine as the last thing before a
    * sink or collect, a scale hazard when more work sits above it.
    * Top-of-plan sorts (only wrappers above) are therefore excluded
    * here; sort+limit pairs never reach this check because Spark plans
    * them as TakeOrderedAndProject. */
  private def midPlanGlobalSorts(root: SparkPlan): Seq[SortExec] = {
    def walk(p: SparkPlan, onlyWrappersAbove: Boolean): Seq[SortExec] = {
      val here = p match {
        case s: SortExec if s.global && !onlyWrappersAbove => Seq(s)
        case _ => Seq.empty[SortExec]
      }
      // a top-level Sort keeps "top of plan" status for its own subtree
      // head (sort-over-sort dedups to the outer ordering)
      val stillTop = onlyWrappersAbove &&
        (isWrapper(p) || p.isInstanceOf[SortExec])
      here ++ kids(p).flatMap(walk(_, stillTop))
    }
    walk(root, onlyWrappersAbove = true)
  }

  /** What a query must leave as it found it: every conf entry, function
    * name and temporary view of the session, as entry -> value. */
  def sessionState(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.map { case (k, v) => s"conf $k" -> v } ++
      spark.catalog.listFunctions().collect().map(f => s"function ${f.name}" -> "present") ++
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .map(t => s"temp view ${t.name}" -> "present")

  /** One line per entry that differs between two [[sessionState]]s. */
  def sessionChanges(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.getOrElse(k, "<absent>")} -> ${after.getOrElse(k, "<absent>")}")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1).toSeq
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    val sel = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      wanted.isEmpty || wanted.exists(n.contains)
    }
    var flagged = 0
    var unexemptTotal = 0
    var globalSortTotal = 0
    var failures = 0
    var changedSession = 0
    sel.foreach { case (name, fn) =>
      val before = sessionState(spark)
      plans.clear()
      try {
        // bounded await (round 13: the audit could never complete because
        // one query hung codegen before its listener ever fired)
        graft.util.Watchdog.run(spark.sparkContext, name,
          graft.util.Watchdog.defaultTimeoutSec) {
          fn(spark, sfDir).collect()
        } match {
          case Right(_) => ()
          case Left(e) => throw e
        }
        // drain the async listener bus
        var last = -1; var stable = 0
        val deadline = System.nanoTime() + 5000000000L
        while (stable < 3 && System.nanoTime() < deadline) {
          Thread.sleep(50)
          val n = plans.size()
          if (n == last) stable += 1 else { stable = 0; last = n }
        }
        val all = plans.toArray(Array.empty[SparkPlan]).toSeq
        val unpart = all.flatMap(p => nodes(p).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        })
        // the bounded-input exemption: the window's DIRECT input (through
        // row-preserving wrappers only — not across joins/generates) is
        // an aggregate, so it reads a cardinality-bounded table
        val unexempt = unpart.filterNot(w => aggregateFed(w.child))
        val loops = all.flatMap(_.toString.linesIterator.filter(l =>
          (l.contains("BroadcastNestedLoopJoin") && l.contains("Inner")) ||
            l.contains("CartesianProduct")))
        // report-only: mid-pipeline global sorts over per-row data (the
        // one scale-hazard shape the window/loop sweep doesn't cover)
        val midSorts = all.flatMap(midPlanGlobalSorts)
          .filterNot(s => aggregateFed(s.child))
        globalSortTotal += midSorts.length
        if (unexempt.nonEmpty || loops.nonEmpty || unpart.length > 2 ||
            midSorts.nonEmpty) {
          flagged += 1
          unexemptTotal += unexempt.length
          println(f"AUDIT $name%-32s unpartWindows=${unpart.length}%d " +
            f"unexempt=${unexempt.length}%d condLoops=${loops.length}%d " +
            f"midGlobalSorts=${midSorts.length}%d")
          loops.take(2).foreach(l => println(s"    $l"))
          midSorts.take(2).foreach(s =>
            println(s"    midGlobalSort: ${s.simpleStringWithNodeId()}"))
        }
      } catch {
        case e: Throwable =>
          flagged += 1
          failures += 1
          println(s"AUDIT $name FAILED: ${e.getMessage}")
      }
      val changes = sessionChanges(before, sessionState(spark))
      if (changes.nonEmpty) {
        changedSession += 1
        println(s"AUDIT $name SESSION CHANGED: ${changes.mkString("; ")}")
      }
    }
    println(s"== audit: ${sel.length} queries, $flagged flagged, " +
      s"$unexemptTotal unexempt windows, $globalSortTotal mid-plan " +
      s"global sorts, $failures failures, $changedSession changed the session ==")
    spark.listenerManager.unregister(listener)
    spark.stop()
    // hard gate: an unpartitioned window over per-row data, a query that
    // crashes under audit or one that changes the session fails the
    // build; bounded-frame loop flags and mid-plan global sorts stay
    // report-only (the documented broadcast-query classes / sink-ordering
    // exemptions — see docs/SCALING.md "Global-sort audit")
    if (unexemptTotal > 0 || failures > 0 || changedSession > 0) sys.exit(1)
  }
}
