package graft

import graft.plans.ConnectedComponents

/** Min-label component semantics: transitive chains, isolated nodes,
  * orientation independence, cycle termination, determinism. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(String, String)], nodes: Seq[String]) =
    ConnectedComponents.labels(edges.toDF("src", "dst"), nodes.toDF("node"))
      .as[(String, String)].collect().toMap

  test("two components and an isolated node") {
    val got = run(Seq(("b", "c"), ("c", "d"), ("x", "y")),
      Seq("b", "c", "d", "x", "y", "z"))
    assert(got == Map("b" -> "b", "c" -> "b", "d" -> "b",
      "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("transitive chains collapse even without a direct pair") {
    // A≈B, B≈C but never A≈C — the q34 LSH shape the clustering exists for
    val got = run(Seq(("a", "b"), ("b", "c")), Seq("a", "b", "c"))
    assert(got.values.toSet == Set("a"))
  }

  test("edge orientation does not matter") {
    val fwd = run(Seq(("a", "b"), ("b", "c")), Seq("a", "b", "c"))
    val rev = run(Seq(("b", "a"), ("c", "b")), Seq("a", "b", "c"))
    assert(fwd == rev)
  }

  test("cycles and long paths converge in O(diameter) rounds") {
    val ring = run(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")),
      Seq("a", "b", "c", "d"))
    assert(ring.values.toSet == Set("a"))
    val chain = (0 until 12).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val path = run(chain, (0 to 12).map(i => f"n$i%02d"))
    assert(path.values.toSet == Set("n00"))
  }

  test("numeric labels (monotone-sum fixpoint path)") {
    val got = ConnectedComponents.labels(
        Seq((3L, 5L), (5L, 9L)).toDF("src", "dst"), (1L to 10L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(got(3L) == 3L && got(5L) == 3L && got(9L) == 3L)
    assert((1L to 10L).filterNot(Set(3L, 5L, 9L)).forall(n => got(n) == n))
  }

  test("no edges — every node is its own component") {
    val got = run(Seq.empty, Seq("a", "b"))
    assert(got == Map("a" -> "a", "b" -> "b"))
  }

  test("deterministic across re-runs") {
    val edges = Seq(("d", "b"), ("b", "f"), ("g", "e"))
    val nodes = Seq("b", "d", "e", "f", "g", "h")
    assert(run(edges, nodes) == run(edges, nodes))
  }

  test("fractional labels use the exact join test, not the rounded sum") {
    // 2.4 and 2.0 both round to decimal(38,0) 2: a sum-based test would
    // see no change after the first round and stop before 2.4 adopts 2.0.
    // (The chain forces ≥2 propagation rounds for the min to reach the end.)
    val got = ConnectedComponents.labels(
        Seq((2.4, 3.5), (3.5, 2.0)).toDF("src", "dst"),
        Seq(2.0, 2.4, 3.5).toDF("node"))
      .as[(Double, Double)].collect().toMap
    assert(got == Map(2.0 -> 2.0, 2.4 -> 2.0, 3.5 -> 2.0))
  }

  test("star contraction: depth-50 path converges in O(log d) rounds " +
      "with labels identical to min-propagation") {
    // a 50-edge chain — min-propagation needs ~50 rounds; large/small-star
    // halves diameters per round. maxIters = 10 would make the star path
    // RAISE if it needed more (a partially contracted graph refuses), so
    // passing proves the round bound, not just the labels.
    val chain = (0 until 50).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val nodes = (0 to 50).map(i => f"n$i%02d") :+ "z_isolated"
    val star = ConnectedComponents.labels(chain.toDF("src", "dst"),
        nodes.toDF("node"), maxIters = 10, algorithm = "star")
      .as[(String, String)].collect().toMap
    val minl = ConnectedComponents.labels(chain.toDF("src", "dst"),
        nodes.toDF("node"), maxIters = 60)
      .as[(String, String)].collect().toMap
    assert(star == minl)
    assert(star("n50") == "n00" && star("z_isolated") == "z_isolated")
  }

  test("star contraction: multiple components, cycles, numeric ids") {
    val edges = Seq((7L, 3L), (3L, 9L), (9L, 7L), (20L, 21L))
    val nodes = (1L to 25L)
    val star = ConnectedComponents.labels(edges.toDF("src", "dst"),
        nodes.toDF("node"), algorithm = "star")
      .as[(Long, Long)].collect().toMap
    val minl = ConnectedComponents.labels(edges.toDF("src", "dst"),
        nodes.toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(star == minl)
    assert(star(7L) == 3L && star(9L) == 3L && star(21L) == 20L)
  }

  test("auto switches to star contraction on deep-diameter evidence") {
    // depth-50 path with maxIters = 24: pure min-label propagation CANNOT
    // finish (it needs ~50 rounds) and would return half-propagated
    // labels, so correct labels out of "auto" under the same budget prove
    // the switch fired and the contraction finished the job.
    val chain = (0 until 50).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val nodes = (0 to 50).map(i => f"n$i%02d")
    val stuck = ConnectedComponents.labels(chain.toDF("src", "dst"),
        nodes.toDF("node"), maxIters = 24, algorithm = "min-label")
      .as[(String, String)].collect().toMap
    assert(stuck.values.toSet.size > 1,
      "propagation alone must NOT have finished in 24 rounds — " +
        "otherwise this test can't discriminate the auto switch")
    val auto = ConnectedComponents.labels(chain.toDF("src", "dst"),
        nodes.toDF("node"), maxIters = 24, algorithm = "auto")
      .as[(String, String)].collect().toMap
    assert(auto.values.toSet == Set("n00"), "auto must land the fixpoint")
    // …and identical to fully-budgeted propagation
    val minl = ConnectedComponents.labels(chain.toDF("src", "dst"),
        nodes.toDF("node"), maxIters = 60, algorithm = "min-label")
      .as[(String, String)].collect().toMap
    assert(auto == minl)
  }

  test("edge endpoint absent from nodes refuses at action time") {
    // 'ghost' bridges a and b but is not in the domain — its id could
    // become a canonical label no caller row carries. Refuse, don't corrupt.
    val ex = intercept[Exception] {
      run(Seq(("ghost", "b"), ("ghost", "c")), Seq("b", "c"))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("edge endpoint absent from nodes")))
  }

  test("every uniqueNodes = true caller hands labels a distinct node frame") {
    // A broken promise duplicates output rows instead of failing, so each
    // caller's node frame is rebuilt here exactly as the caller builds it.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    def assertDistinct(what: String, nodes: DataFrame): Unit = {
      val n = nodes.select(col("node"))
      val (rows, distinctRows) = (n.count(), n.distinct().count())
      assert(rows > 0 && rows == distinctRows, s"$what: $rows rows, $distinctRows distinct")
    }
    graft.util.Materialize.scoped {
      // dedupClustersFromPairs and q212's first call
      val docs = Tables.documents(spark, dir).select(col("doc_id").as("node"))
      assertDistinct("documents", docs)
      // q212's recluster: the survivors of the deletion-touched components
      val pairs = operators.TextOps.q34MinhashLsh(spark, dir)
      val full = ConnectedComponents.labels(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), docs,
          uniqueNodes = true)
        .withColumn("deleted", col("node") % 17 === 0)
      val affected = full.filter(col("deleted")).select(col("component")).distinct()
      assertDistinct("q212 affNodes", full.filter(!col("deleted"))
        .join(affected, Seq("component"), "left_semi").select(col("node")))
      // q265's part-name catalog
      assertDistinct("q265 names", Tables.part(spark, dir)
        .select(col("p_name").as("name")).distinct().select(col("name").as("node")))
      // q203's media groups
      assertDistinct("q203 groups",
        operators.ComposeOps.ahashGroups(spark, dir).select(col("ahash").as("node")))
    }
  }
}
