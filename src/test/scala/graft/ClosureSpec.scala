package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.plans.{Closure, TripleStore}

/** J4 fixpoint semantics: reflexivity, transitivity, cycle termination.
  * Each case runs the walk both ways: at `localMaxRows = 0` (the
  * distributed loop) and at the default cap (small inputs finish on the
  * driver), and both must return the same rows. */
class ClosureSpec extends SparkSpec {
  import spark.implicits._

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val (x, y) = (a.collect().toSeq, b.collect().toSeq)
    assert(x.diff(y).isEmpty && y.diff(x).isEmpty, s"$what: $x vs $y")
  }

  /** `run` at cap 0 and at the default cap: the first must take the
    * distributed loop, the second the driver, and both return the same
    * rows (as a multiset). Returns the driver-side result. */
  private def bothPaths(run: Int => DataFrame): DataFrame = {
    val distributed = run(0)
    val local = run(Closure.LocalMaxRows)
    assert(!onDriver(distributed), "cap 0 must take the distributed loop")
    assert(onDriver(local), "a small input must finish on the driver")
    sameRows(local, distributed, "driver vs distributed")
    local
  }

  test("reachingTo: reflexive + transitive over a chain") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val seeds = Seq("d").toDF("node")
    val got = bothPaths(c => Closure.reachingTo(edges, seeds, localMaxRows = c))
      .as[String].collect().toSet
    assert(got == Set("a", "b", "c", "d"))
  }

  test("reachingTo: diamond converges without duplicates") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")).toDF("src", "dst")
    val got = bothPaths(c => Closure.reachingTo(edges, Seq("d").toDF("node"),
      localMaxRows = c)).as[String].collect()
    assert(got.length == got.distinct.length)
    assert(got.toSet == Set("a", "b", "c", "d"))
  }

  test("reachingTo: cycles terminate") {
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c")).toDF("src", "dst")
    val got = bothPaths(c => Closure.reachingTo(edges, Seq("c").toDF("node"),
      localMaxRows = c)).as[String].collect().toSet
    assert(got == Set("a", "b", "c"))
  }

  test("ancestorPairs: full transitive pairs on a chain") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val got = bothPaths(c => Closure.ancestorPairs(edges, localMaxRows = c))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("rootLabels: every node gets its root over a forest") {
    val edges = Seq(("o1", "c1"), ("o2", "c2"), ("c1", "n1"), ("c2", "n1"),
      ("n1", "r1"), ("n2", "r2")).toDF("src", "dst")
    val roots = Seq("r1", "r2").toDF("node")
    val got = bothPaths(c => Closure.rootLabels(edges, roots, functionalEdges = true,
      localMaxRows = c)).as[(String, String)].collect().toSet
    assert(got == Set(("n1", "r1"), ("c1", "r1"), ("c2", "r1"),
      ("o1", "r1"), ("o2", "r1"), ("n2", "r2")))
  }

  test("rootLabels: general graph — a diamond reaches both roots exactly once") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "r1"), ("c", "r2"))
      .toDF("src", "dst")
    val got = bothPaths(c => Closure.rootLabels(edges, Seq("r1", "r2").toDF("node"),
      localMaxRows = c)).as[(String, String)].collect()
    assert(got.length == got.distinct.length)
    assert(got.toSet == Set(("a", "r1"), ("a", "r2"), ("b", "r1"), ("c", "r2")))
  }

  test("rootLabels: matches ancestorPairs-then-filter on the forest shape") {
    val edges = Seq(("o1", "c1"), ("c1", "n1"), ("n1", "r1"), ("n2", "r1"))
      .toDF("src", "dst")
    val viaPairs = bothPaths(c => Closure.ancestorPairs(edges, functionalEdges = true,
        localMaxRows = c))
      .filter($"anc".startsWith("r"))
      .select($"node", $"anc".as("root"))
      .as[(String, String)].collect().toSet
    val viaLabels = bothPaths(c => Closure.rootLabels(edges, Seq("r1").toDF("node"),
      functionalEdges = true, localMaxRows = c)).as[(String, String)].collect().toSet
    assert(viaLabels == viaPairs)
  }

  test("rootLabels: a root inside a functional cycle terminates with set output") {
    // a→b→r1→a is functional (one dst per src) but cyclic: the frontier
    // never empties on its own — the periodic guard must terminate it
    val edges = Seq(("a", "b"), ("b", "r1"), ("r1", "a")).toDF("src", "dst")
    val got = bothPaths(c => Closure.rootLabels(edges, Seq("r1").toDF("node"),
      functionalEdges = true, maxIters = 20, localMaxRows = c))
      .as[(String, String)].collect()
    assert(got.length == got.distinct.length)
    assert(got.toSet == Set(("a", "r1"), ("b", "r1"), ("r1", "r1")))
  }

  test("idempotence: closing a closed graph adds nothing") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val got = bothPaths(c => Closure.ancestorPairs(edges, localMaxRows = c))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("functional two-hop: odd- and even-depth chains match the general path") {
    // chains around and past the adaptive switch (default 6 rounds), plus
    // forced immediate striding (twoHopAfterRounds = 0) — the stride-2
    // walk must land exactly on both parities, including the boundary
    // case where the frontier empties exactly at the switch round. The
    // last input, at the default switch only, is a 20-node chain with
    // every edge given twice: each walk must absorb the duplicates,
    // including rootLabels' forest walk, which has no per-round distinct
    val chains = Seq(4, 5, 6, 7, 8, 9).flatMap(n => Seq(-1, 0, 1).map((n, 1, _))) :+ ((20, 2, -1))
    for ((n, copies, switch) <- chains) {
      val edges = (0 until n).flatMap(i => Seq.fill(copies)((s"v$i", s"v${i + 1}")))
        .toDF("src", "dst")
      val seeds = Seq(s"v$n").toDF("node")
      val gen = bothPaths(c => Closure.reachingTo(edges, seeds, localMaxRows = c))
        .as[String].collect().toSet
      val fun = bothPaths(c => Closure.reachingTo(edges, seeds, functionalEdges = true,
        twoHopAfterRounds = switch, localMaxRows = c)).as[String].collect().toSeq
      assert(fun.toSet == gen, s"chain length $n, switch $switch")
      assert(fun.size == fun.distinct.size, s"distinct contract, $n/$switch")
      val pGen = bothPaths(c => Closure.ancestorPairs(edges, localMaxRows = c))
        .as[(String, String)].collect().toSet
      val pFun = bothPaths(c => Closure.ancestorPairs(edges, functionalEdges = true,
        twoHopAfterRounds = switch, localMaxRows = c)).as[(String, String)].collect().toSeq
      assert(pFun.toSet == pGen, s"pairs, chain length $n, switch $switch")
      assert(pFun.size == pFun.distinct.size, s"pairs distinct, $n/$switch")
      if (switch == -1) { // rootLabels strides at the default switch only
        val lGen = bothPaths(c => Closure.rootLabels(edges, seeds, localMaxRows = c))
          .as[(String, String)].collect().toSet
        val lFun = bothPaths(c => Closure.rootLabels(edges, seeds, functionalEdges = true,
          localMaxRows = c)).as[(String, String)].collect().toSeq
        assert(lGen == (0 until n).map(i => (s"v$i", s"v$n")).toSet, s"labels, $n")
        assert(lFun.toSet == lGen, s"labels, chain length $n")
        assert(lFun.size == lFun.distinct.size, s"labels distinct, $n")
      }
    }
  }

  test("functional two-hop: branching forest and multi-seed overlap stay distinct") {
    // r ← a ← {b, c}; b ← d — two seeds on one root path (r and a) create
    // overlapping layers that the terminal distinct must collapse
    val edges = Seq(("a", "r"), ("b", "a"), ("c", "a"), ("d", "b")).toDF("src", "dst")
    val seeds = Seq("r", "a").toDF("node")
    for (switch <- Seq(-1, 0)) {
      val fun = bothPaths(c => Closure.reachingTo(edges, seeds, functionalEdges = true,
        twoHopAfterRounds = switch, localMaxRows = c)).as[String].collect().toSeq
      assert(fun.toSet == Set("a", "b", "c", "d", "r"), s"switch $switch")
      assert(fun.size == fun.distinct.size, s"switch $switch")
    }
  }

  test("functional two-hop: cycles terminate under maxIters with set output") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    for (switch <- Seq(-1, 0)) {
      val got = bothPaths(c => Closure.reachingTo(edges, Seq("a").toDF("node"),
        maxIters = 6, functionalEdges = true, twoHopAfterRounds = switch,
        localMaxRows = c)).as[String].collect().toSeq
      assert(got.toSet == Set("a", "b") && got.size == 2, s"switch $switch")
      val pairs = bothPaths(c => Closure.ancestorPairs(edges, maxIters = 6,
        functionalEdges = true, twoHopAfterRounds = switch, localMaxRows = c))
        .as[(String, String)].collect().toSeq
      assert(pairs.toSet == Set(("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")) &&
        pairs.size == 4, s"pairs, switch $switch")
    }
    val labels = bothPaths(c => Closure.rootLabels(edges, Seq("a").toDF("node"),
      maxIters = 6, functionalEdges = true, localMaxRows = c))
      .as[(String, String)].collect().toSeq
    assert(labels.toSet == Set(("b", "a"), ("a", "a")) && labels.size == 2)
  }

  test("driver walk: a cyclic functional ring longer than the hop budget " +
      "truncates exactly where the distributed rounds do") {
    // 25-node ring, 10 rounds: two single hops, then eight stride rounds
    // of two hops each (18 hops in all), the cycle guard on round 7; the
    // general rules walk one hop per round
    val n = 25
    val edges = (0 until n).map(i => (s"v$i", s"v${(i + 1) % n}")).toDF("src", "dst")
    val seed = Seq("v0").toDF("node")
    val reach = bothPaths(c => Closure.reachingTo(edges, seed, maxIters = 10,
      functionalEdges = true, twoHopAfterRounds = 2, localMaxRows = c)).collect()
    assert(reach.length == 19)
    val reachGen = bothPaths(c => Closure.reachingTo(edges, seed, maxIters = 10,
      localMaxRows = c)).collect()
    assert(reachGen.length == 11)
    val pairs = bothPaths(c => Closure.ancestorPairs(edges, maxIters = 10,
      functionalEdges = true, twoHopAfterRounds = 2, localMaxRows = c)).collect()
    assert(pairs.length == n * 19)
    // rootLabels strides after the default 6 rounds: 1 + 6 + 2 * 4 hops
    val labels = bothPaths(c => Closure.rootLabels(edges, seed, maxIters = 10,
      functionalEdges = true, localMaxRows = c)).collect()
    assert(labels.length == 15)
  }

  test("driver walk: doubled edges through rootLabels stay one row per label") {
    val forest = Seq(("o1", "c1"), ("o2", "c1"), ("c1", "n1"), ("c2", "n1"),
      ("n1", "r1"), ("n2", "r2"))
    val edges = (forest ++ forest).toDF("src", "dst")
    val roots = Seq("r1", "r2").toDF("node")
    val want = Set(("o1", "r1"), ("o2", "r1"), ("c1", "r1"), ("c2", "r1"),
      ("n1", "r1"), ("n2", "r2"))
    for (functional <- Seq(true, false)) {
      val got = bothPaths(c => Closure.rootLabels(edges, roots,
        functionalEdges = functional, localMaxRows = c)).as[(String, String)].collect()
      assert(got.toSet == want && got.length == want.size, s"functional = $functional")
    }
  }

  test("driver walk: null endpoints never join, on both paths") {
    val edges = Seq[(String, String)](("a", "b"), (null, "b"), ("b", null), ("c", "a"))
      .toDF("src", "dst")
    val reach = bothPaths(c => Closure.reachingTo(edges, Seq("b").toDF("node"),
      localMaxRows = c)).as[String].collect().toSet
    assert(reach == Set("b", "a", null, "c"))
    val pairs = bothPaths(c => Closure.ancestorPairs(edges, localMaxRows = c))
      .as[(String, String)].collect().toSet
    assert(pairs == Set(("a", "b"), (null, "b"), ("b", null), ("c", "a"),
      ("a", null), (null, null), ("c", "b"), ("c", null)))
    val labels = bothPaths(c => Closure.rootLabels(edges, Seq("b").toDF("node"),
      functionalEdges = true, localMaxRows = c)).as[(String, String)].collect().toSet
    assert(labels == Set(("a", "b"), (null, "b"), ("c", "b")))
    // the anti-join against the accumulator is null-safe: a null-carrying
    // row on a cycle is found again and ends, so each pair comes once
    val cyclic = Seq[(String, String)]((null, "a"), ("a", "b"), ("b", "a"))
      .toDF("src", "dst")
    val once = bothPaths(c => Closure.ancestorPairs(cyclic, maxIters = 4,
      localMaxRows = c)).as[(String, String)].collect()
    assert(once.length == once.distinct.length)
    assert(once.toSet == Set((null, "a"), ("a", "b"), ("b", "a"), (null, "b"),
      ("a", "a"), ("b", "b")))
  }

  test("driver walk: exactly cap edges go local, cap + 1 go distributed, " +
      "and an answer above the cap goes distributed") {
    def edges(k: Int) = (0 until k).map(i => (s"a$i", s"b$i")).toDF("src", "dst")
    val seed = Seq("b0").toDF("node")
    val atCap = Closure.reachingTo(edges(5), seed, localMaxRows = 5)
    val overCap = Closure.reachingTo(edges(6), seed, localMaxRows = 5)
    assert(onDriver(atCap) && !onDriver(overCap))
    sameRows(atCap, Closure.reachingTo(edges(5), seed, localMaxRows = 0), "cap edges")
    assert(overCap.as[String].collect().toSet == Set("a0", "b0"))
    // a 5-edge chain has 15 ancestor pairs: they fit a cap of 15, not of 5
    val chain = (0 until 5).map(i => (s"v$i", s"v${i + 1}")).toDF("src", "dst")
    val small = Closure.ancestorPairs(chain, localMaxRows = 5)
    val fits = Closure.ancestorPairs(chain, localMaxRows = 15)
    assert(!onDriver(small) && onDriver(fits))
    sameRows(small, fits, "answer cap")
    assert(fits.count() == 15L)
  }

  test("driver walk matches the distributed loop on the query inputs at sf0.001 " +
      "(q16, q17, q87, q93)") {
    val dir = "/root/testdata/sf0.001"
    val regions = Tables.region(spark, dir)
    val europe = regions.filter(col("r_name") === "EUROPE")
      .select(concat(lit("R"), col("r_regionkey").cast("string")).as("node"))
    val roots = regions.select(concat(lit("R"), col("r_regionkey").cast("string")).as("node"))
    val all = TripleStore.edges(spark, dir)
    val noLineitems = TripleStore.edges(spark, dir, withLineitems = false)
    val q16 = bothPaths(c => Closure.reachingTo(all, europe, functionalEdges = true,
      localMaxRows = c))
    val q17 = bothPaths(c => Closure.rootLabels(noLineitems, roots,
      functionalEdges = true, localMaxRows = c))
    val q87 = bothPaths(c => Closure.reachingTo(noLineitems, Seq("R1").toDF("node"),
      functionalEdges = Closure.isFunctional(noLineitems), localMaxRows = c))
    assert(q16.count() > 1L && q17.count() > 1L && q87.count() > 1L)
    val t = TripleStore.triples(spark, dir)
    for (p <- Seq("nation", "region")) {
      val e = t.filter(col("p") === p).select(col("s").as("src"), col("o").as("dst"))
      val q93 = bothPaths(c => Closure.ancestorPairs(e,
        functionalEdges = Closure.isFunctional(e), localMaxRows = c))
      assert(q93.count() > 0L, p)
    }
  }

  test("isFunctional probes forests vs fan-out") {
    assert(Closure.isFunctional(Seq(("a", "b"), ("b", "c"), ("d", "c")).toDF("src", "dst")))
    assert(!Closure.isFunctional(Seq(("a", "b"), ("a", "c")).toDF("src", "dst")))
    // duplicate rows of the SAME edge do not break functionality
    assert(Closure.isFunctional(Seq(("a", "b"), ("a", "b")).toDF("src", "dst")))
  }

  test("reliable checkpoint mode (checkpoint dir set) matches localCheckpoint mode") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "c")).toDF("src", "dst")
    val seeds = Seq("d").toDF("node")
    val local = bothPaths(c => Closure.reachingTo(edges, seeds, functionalEdges = true,
      localMaxRows = c)).as[String].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = bothPaths(c => Closure.reachingTo(edges, seeds,
        functionalEdges = true, localMaxRows = c)).as[String].collect().toSet
      val reliableGen = bothPaths(c => Closure.reachingTo(edges, seeds,
        localMaxRows = c)).as[String].collect().toSet
      assert(reliable == local && reliableGen == local)
      assert(local == Set("a", "b", "c", "d", "x"))
    } finally {
      // SparkContext exposes no unset — clear the private var reflectively
      // so the shared test session goes back to localCheckpoint; if the
      // field ever moves, later suites just checkpoint into the temp dir
      try {
        val f = spark.sparkContext.getClass.getDeclaredField("checkpointDir")
        f.setAccessible(true)
        f.set(spark.sparkContext, None)
      } catch { case _: ReflectiveOperationException => }
    }
  }

  test("shuffle-join fallback (broadcastMaxRows=0) matches the broadcast path") {
    // At test scale every frontier broadcasts by default, so force the
    // else-branch: identical results must come from the shuffle-join plan.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("e", "a")).toDF("src", "dst")
    val seeds = Seq("d").toDF("node")
    val broadcast = bothPaths(c => Closure.reachingTo(edges, seeds, localMaxRows = c))
      .as[String].collect().toSet
    val shuffled = bothPaths(c => Closure.reachingTo(edges, seeds, broadcastMaxRows = 0L,
      localMaxRows = c)).as[String].collect().toSet
    assert(shuffled == broadcast && shuffled == Set("a", "b", "c", "d", "e"))
    val pairsB = bothPaths(c => Closure.ancestorPairs(edges, localMaxRows = c))
      .as[(String, String)].collect().toSet
    val pairsS = bothPaths(c => Closure.ancestorPairs(edges, broadcastMaxRows = 0L,
      localMaxRows = c)).as[(String, String)].collect().toSet
    assert(pairsS == pairsB)
  }

  test("rootLabels: a root set above broadcastMaxRows is never hint-broadcast") {
    // Regression: the root-set hint used to fire unconditionally (the cap
    // was passed as the row count). With auto-broadcast disabled, any
    // BroadcastHashJoin in an executed plan can only come from an explicit
    // hint — so a run where every exact count exceeds the cap must execute
    // zero broadcast joins.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      val edges = Seq(("a", "r1"), ("b", "r2"), ("c", "a")).toDF("src", "dst")
      val roots = Seq("r1", "r2").toDF("node")
      val got = bothPaths(c => Closure.rootLabels(edges, roots, broadcastMaxRows = 0L,
        localMaxRows = c)).as[(String, String)].collect().toSet
      assert(got == Set(("a", "r1"), ("b", "r2"), ("c", "r1")))
      // listener callbacks are async (the bus drainer is private[spark]) —
      // wait for the plan stream to go quiet before asserting absence
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 5_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val n = plans.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      val broadcasts = plans.toArray(Array.empty[String])
        .filter(_.contains("BroadcastHashJoin"))
      assert(broadcasts.isEmpty,
        s"explicit broadcast hint fired despite cap=0:\n${broadcasts.headOption.getOrElse("")}")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}
