package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A query leaves the long-lived session as it found it: the same conf, the
  * same function names, the same temporary views ([[Audit.sessionState]],
  * which `graft.Audit` checks board-wide). Each case runs on a session of
  * its own, so no earlier spec can have set up what it relies on. */
class SessionStateSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def assertUnchanged(body: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    val before = Audit.sessionState(s)
    util.Materialize.scoped(body(s))
    val changes = Audit.sessionChanges(before, Audit.sessionState(s))
    assert(changes.isEmpty, changes.mkString("session changed: ", "; ", ""))
  }

  Seq("q28_incremental_watermark", "q74_grouping_sets", "q35_simhash",
      "q56_simhash_pairs", "q221_nfc_normalize", "q37_cosine_topk",
      "q243_viterbi_segment").foreach { name =>
    test(s"$name leaves the session as it found it") {
      assertUnchanged(s => SparkEntry.queries(name)(s, dir).collect())
    }
  }

  test("a mergeCow round leaves the session as it found it") {
    val path = new java.io.File("target/tmp/cow-state-" + System.nanoTime()).getAbsolutePath
    assertUnchanged { s =>
      import s.implicits._
      sinks.Sinks.mergeCow(s, path,
        Seq((1L, "a", "v1"), (2L, "b", "v2")).toDF("k", "part", "v"), Seq("k"), "part")
      sinks.Sinks.mergeCow(s, path, Seq((1L, "a", "v1x")).toDF("k", "part", "v"),
        Seq("k"), "part")
      assert(s.read.parquet(path).filter($"k" === 1L).select($"v").as[String].collect()
        .toSeq == Seq("v1x"))
    }
  }

  test("eventsStream leaves the session as it found it") {
    assertUnchanged(s => assert(streaming.StreamOps.eventsStream(s, dir).isStreaming))
  }

  test("rankedCells resolves on a fresh session with no prior vecs call") {
    val s = spark.newSession()
    import s.implicits._
    val e = (0 until 12).map(i => (i.toLong, Seq(math.sin(i), math.cos(i), i % 3.0)))
      .toDF("vec_id", "v")
    val cells = operators.VectorOps.rankedCells(e).select($"vec_id").as[Long].collect()
    assert(cells.distinct.length == 12)
  }

  test("two q243-shaped frames keep their own vocabularies") {
    import spark.implicits._
    val text = Seq("abab", "ba").toDF("t")
    def segmented(tag: String, vocab: Seq[(String, Long)]): DataFrame =
      text.select(lit(tag).as("vocab"), col("t"),
        graft.functions.UnigramViterbi(col("t"), vocab.map(_._1), vocab.map(_._2)).as("seg"))
    // built one after the other, run as one plan
    val short = segmented("short", Seq("a" -> 1L, "b" -> 1L, "ab" -> 5L))
    val long = segmented("long", Seq("a" -> 5L, "b" -> 5L, "ab" -> 1L, "ba" -> 1L))
    val got = short.unionByName(long).as[(String, String, String)].collect()
      .map { case (v, t, seg) => (v, t) -> seg }.toMap
    assert(got == Map(("short", "abab") -> "a|b|a|b", ("short", "ba") -> "b|a",
      ("long", "abab") -> "ab|ab", ("long", "ba") -> "ba"))
  }
}
