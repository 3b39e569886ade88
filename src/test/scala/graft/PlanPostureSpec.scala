package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

import graft.operators.{TextOps, VectorOps}

/** Explain-level scale-posture assertions (the docs/PLANS.md convention)
  * for the four round-11 `weak` findings: the fixed plans must STAY
  * fixed — a regression that re-introduces an unpartitioned corpus-wide
  * window or a dense non-equi product should fail here, not in a bench
  * log three rounds later.
  *
  * The queries end in eager localCheckpoints (cache-release discipline),
  * so the returned frame's plan is a bare RDD scan; the REAL plans are
  * captured through a QueryExecutionListener around the call (the
  * ClosureSpec pattern). An unpartitioned WindowExec is acceptable only
  * over a CARDINALITY-BOUNDED table (the budgetPrefix offset pattern:
  * the distinct-frequency / distinct-score aggregate, never per-row
  * corpus data) — so the assertions bound their count per plan.
  */
class PlanPostureSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def unpartitioned(p: SparkPlan): Seq[WindowExec] =
    nodes(p).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
  private def partitioned(p: SparkPlan): Seq[WindowExec] =
    nodes(p).collect { case w: WindowExec if w.partitionSpec.nonEmpty => w }

  test("q290 top-terms drift executes NO window anywhere — both top-20 " +
      "cuts are TakeOrdered, ranks come from the bounded self-join") {
    val plans = capturedPlans {
      TextOps.q290TopTermsDrift(spark, dir).collect()
    }
    assert(plans.nonEmpty)
    val wins = plans.flatMap(p => nodes(p).collect { case w: WindowExec => w })
    assert(wins.isEmpty, s"q290 executed ${wins.length} window(s)")
    assert(plans.exists(_.toString.contains("TakeOrderedAndProject")))
  }

  test("q266 zipf fit: per-term rank windows partition on (cf, salt); " +
      "at most one unpartitioned cumsum per job, over the " +
      "distinct-frequency table only") {
    val plans = capturedPlans {
      TextOps.q266ZipfFit(spark, dir).collect()
    }
    assert(plans.nonEmpty)
    plans.foreach { p =>
      val unp = unpartitioned(p)
      assert(unp.length <= 1,
        s"a q266 job executed ${unp.length} unpartitioned windows")
      // the bounded offset window consumes the (cf -> group size)
      // aggregate, never raw per-term rows: an aggregate sits below it
      unp.foreach { w =>
        assert(nodes(w.child).exists(_.nodeName.contains("HashAggregate")),
          "the unpartitioned cumsum must read the distinct-cf aggregate")
      }
    }
    assert(plans.exists(p => partitioned(p).nonEmpty),
      "the per-term rank must be windowed WITHIN (cf, salt) cells")
  }

  test("q287 NB calibration: no ntile — the only unpartitioned window " +
      "is the distinct-score cumulative count") {
    val plans = capturedPlans {
      TextOps.q287NbCalibration(spark, dir).collect()
    }
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(unpartitioned(p).length <= 1)
      assert(!p.toString.contains("ntile"))
    }
  }

  test("q279 triplet mining: the negative search is a broadcast EQUI " +
      "join on the IVF cell — no nested-loop or cartesian product in " +
      "any executed job") {
    val plans = capturedPlans {
      VectorOps.q279TripletMining(spark, dir).collect()
    }
    assert(plans.nonEmpty)
    // bounded Cross BNLJs are legitimate here (corpus x 8-centroid
    // assignment, 1-row stat frames); the round-11 scale-killer was the
    // CONDITIONED nested loop — Inner with the cluster-exclusion
    // predicate as the join condition — so that exact shape is banned
    val bad = plans.flatMap(_.toString.linesIterator).filter(l =>
      (l.contains("BroadcastNestedLoopJoin") && l.contains("Inner")) ||
        l.contains("CartesianProduct"))
    assert(bad.isEmpty,
      s"dense conditioned product crept back in:\n${bad.headOption.getOrElse("")}")
  }

  test("q243 viterbi: the model read is V-bounded by construction " +
      "(TakeOrdered feeds the collect) and no job executes a window") {
    val plans = capturedPlans {
      TextOps.q243ViterbiSegment(spark, dir).collect()
    }
    assert(plans.nonEmpty)
    assert(plans.forall(p => nodes(p).collect {
      case w: WindowExec => w }.isEmpty))
    assert(plans.exists(_.toString.contains("TakeOrderedAndProject")),
      "the vocabulary cut must plan as TakeOrdered, not a full sort")
  }

  test("q308 duration ORDER BY + LIMIT plans as TakeOrderedAndProject — " +
      "the typed-order multi-key sort must never degrade to a global " +
      "sort that survives the limit") {
    val plans = capturedPlans {
      operators.RdfOps.q308DurationOrderby(spark, dir).collect()
    }
    assert(plans.nonEmpty)
    assert(plans.exists(_.toString.contains("TakeOrderedAndProject")),
      "typed ORDER BY + LIMIT must plan as TakeOrdered")
    // no full-width global sort: any SortExec in these jobs would mean
    // the limit stopped collapsing into the sort
    assert(plans.forall(p => nodes(p).collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isEmpty), "global SortExec alongside the limit")
  }
}
