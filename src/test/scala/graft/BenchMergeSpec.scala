package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's min-of-passes merges: the wall column keeps the best window
  * (negative on failure) and the task column must come from the SAME
  * pass as the wall figure. */
class BenchMergeSpec extends AnyFunSuite {

  test("merge: min wall, task from the min pass; one failure stays negative") {
    assert(Bench.merge(Seq(("q1", 2.0, 20.0)), Seq(("q1", 1.0, 10.0))) ==
      Seq(("q1", 1.0, 10.0)))
    assert(Bench.merge(Seq(("q1", 2.0, 20.0)), Seq(("q1", -1.0, 10.0))) ==
      Seq(("q1", -1.0, 10.0)))
  }

  test("mergeExtra: a clean window redeems, a failure never demotes") {
    assert(Bench.mergeExtra(Seq(("q1", -3.0, 30.0)), Seq(("q1", 4.0, 40.0))) ==
      Seq(("q1", 4.0, 40.0)))
    assert(Bench.mergeExtra(Seq(("q1", 4.0, 40.0)), Seq(("q1", -1.0, 10.0))) ==
      Seq(("q1", 4.0, 40.0)))
  }

  test("mergeExtra: when both passes failed the task column follows the " +
      "min-|wall| pass") {
    val short = ("q1", -2.0, 20.0)
    val long = ("q1", -5.0, 50.0)
    assert(Bench.mergeExtra(Seq(short), Seq(long)) == Seq(short))
    assert(Bench.mergeExtra(Seq(long), Seq(short)) == Seq(short))
  }
}
