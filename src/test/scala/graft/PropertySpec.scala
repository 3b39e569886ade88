package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{BottomK, Registry}

/** Property-based coverage (SURVEY.md §5.2): scalar functions total on
  * arbitrary strings; closure fixpoint laws on random DAGs; BottomK
  * aggregator laws. Samples are drawn deterministically (fixed seeds) from
  * raw ScalaCheck generators — the scalatest/scalacheck bridge is not on
  * the offline classpath.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[T](g: Gen[T], n: Int = 20)(f: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val anyString: Gen[String] =
    Gen.oneOf(
      Gen.alphaNumStr,
      Gen.asciiPrintableStr.map(_.take(40)),
      Gen.const(""),
      Gen.oneOf("http://x.org/a", "1903-07-01T00:00:00Z", "Point (1 2)",
        "a b c", "  ", "\t"))

  test("BGP reorder: a barrier-fixed permutation, deterministic, on random element runs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.plans.SparqlText
    import graft.plans.SparqlText.{Tp, TpVar, Path, PStep, V, C, FilterExpr, EVar, El}
    val term: Gen[SparqlText.Term] =
      Gen.oneOf(Gen.oneOf("x", "y", "z", "w").map(V.apply),
        Gen.oneOf("A", "B").map(C.apply))
    val pat: Gen[El] = Gen.oneOf(
      Gen.zip(term, Gen.oneOf("p", "q", "r"), term).map { case (s, p, o) =>
        Tp(s, Path(Seq(PStep(Seq((p, false)), ""))), o) },
      Gen.zip(term, Gen.oneOf("p", "q"), term).map { case (s, p, o) =>
        Tp(s, Path(Seq(PStep(Seq((p, false)), "*"))), o) },
      Gen.zip(term, term).map { case (s, o) => TpVar(s, "pv", o) })
    val el: Gen[El] = Gen.frequency(
      4 -> pat, 1 -> Gen.const[El](FilterExpr(EVar("x"))))
    val els: Gen[List[El]] = Gen.listOfN(9, el)
    (0 until 60).foreach { i =>
      els.apply(Gen.Parameters.default, Seed(7L + i)).foreach { seq =>
        val out = SparqlText.reorderPatterns(seq)
        // permutation: same element multiset
        assert(out.groupBy(identity).view.mapValues(_.size).toMap ==
          seq.groupBy(identity).view.mapValues(_.size).toMap, s"seed $i")
        // barriers (non-patterns) stay at their exact positions
        seq.zipWithIndex.foreach { case (e, idx) =>
          if (e.isInstanceOf[FilterExpr]) assert(out(idx) == e, s"seed $i")
        }
        // deterministic
        assert(SparqlText.reorderPatterns(seq) == out, s"seed $i")
      }
    }
  }

  test("P3/P4 are total: never throw on arbitrary strings") {
    forAll(Gen.listOfN(30, anyString)) { xs =>
      val df = xs.toDF("x")
      // Both evaluate without exceptions; output row count preserved.
      val n = df.select(
        Registry.datePostprocessing($"x").as("a"),
        Registry.concatenatedDatesPostprocessing($"x").as("b")).count()
      assert(n == xs.length)
    }
  }

  test("P6 is total and always picks from the input or the priority list") {
    val codes = Gen.listOfN(5, Gen.oneOf("PPL", "ADM1", "X", "Y", ""))
    forAll(Gen.listOfN(10, codes.map(_.mkString(" ")))) { xs =>
      val rows = xs.toDF("x")
        .select(Registry.featureCodePick($"x", Seq("PPL", "ADM1")).as("r"),
          $"x")
        .collect()
      rows.foreach { r =>
        val picked = r.getString(0)
        if (picked != null && picked.nonEmpty)
          assert(Seq("PPL", "ADM1").contains(picked) ||
            r.getString(1).split("\\s+").headOption.contains(picked))
      }
    }
  }

  test("closure is monotone and idempotent on random DAGs") {
    // DAG by construction: edges only go from lower to higher node ids.
    val dagGen = for {
      n <- Gen.choose(3, 12)
      edges <- Gen.listOfN(n * 2, for {
        a <- Gen.choose(0, n - 2)
        b <- Gen.choose(a + 1, n - 1)
      } yield (s"v$a", s"v$b"))
    } yield edges.distinct
    forAll(dagGen) { edges =>
      whenever(edges.nonEmpty) {
        val df = edges.toDF("src", "dst")
        val pairs = graft.plans.Closure.ancestorPairs(df)
          .as[(String, String)].collect().toSet
        // contains all direct edges
        assert(edges.toSet.subsetOf(pairs))
        // transitivity: (a,b),(b,c) in closure => (a,c) in closure
        for ((a, b) <- pairs; (b2, c) <- pairs if b == b2)
          assert(pairs.contains((a, c)), s"missing transitive pair ($a,$c)")
      }
    }
  }

  test("MERGE upsert is idempotent and key-complete on random tables") {
    val rowsGen = Gen.listOfN(12, Gen.zip(Gen.choose(0L, 9L), Gen.alphaNumStr))
      .map(_.groupBy(_._1).map { case (k, vs) => (k, vs.head._2) }.toSeq)
    forAll(Gen.zip(rowsGen, rowsGen), n = 10) { case (t, s) =>
      whenever(t.nonEmpty && s.nonEmpty) {
        val target = t.toDF("k", "v")
        val source = s.toDF("k", "v")
        val once = graft.plans.Merge.upsert(target, source, Seq("k"))
          .as[(Long, String)].collect().sortBy(_._1).toSeq
        // idempotent: applying the same source again changes nothing
        val twice = graft.plans.Merge.upsert(once.toDF("k", "v"), source, Seq("k"))
          .as[(Long, String)].collect().sortBy(_._1).toSeq
        assert(once == twice)
        // key-complete: union of keys, source wins on overlap
        val expect = (t.toMap ++ s.toMap).toSeq.sortBy(_._1)
        assert(once == expect)
      }
    }
  }

  test("native simhash16 equals the 16-arm SQL aggregate formulation") {
    val sqlBits = (0 until 16).map { j =>
      val nib = j / 4 + 1
      val bp = 3 - (j % 4)
      s"IF(aggregate(toks, 0, (acc, w) -> acc + IF(((shiftright(instr('0123456789abcdef', substr(md5(w), $nib, 1)) - 1, $bp)) & 1) = 1, 1, -1)) >= 0, '1', '0')"
    }.mkString("concat(", ", ", ")")
    val tokGen = Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(""),
      Gen.const("spark"), Gen.asciiPrintableStr.map(_.take(12))))
    forAll(Gen.listOfN(8, tokGen), n = 10) { docsToks =>
      val df = docsToks.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "toks")
      val rows = df.select($"id",
          expr(sqlBits).as("sql_sig"),
          graft.functions.SimHash16($"toks").as("native_sig"))
        .as[(Int, String, String)].collect()
      rows.foreach { case (id, a, b) =>
        assert(a == b, s"doc $id: sql=$a native=$b toks=${docsToks(id)}")
      }
    }
    // NULL token array: the SQL formulation yields all-'0' (each NULL
    // counter takes the otherwise branch); the q35 call site restores this
    // with coalesce over the null-propagating native expression.
    val nullRow = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS toks")
      .select(expr(sqlBits).as("a"),
        coalesce(graft.functions.SimHash16($"toks"), lit("0" * 16)).as("b"))
      .as[(String, String)].head()
    assert(nullRow._1 == "0" * 16 && nullRow._2 == "0" * 16)
  }

  test("saltedJoin is row-identical to the plain join, nulls included") {
    val bigGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 5L),
      Gen.option(Gen.choose(0L, 100L))))
    val smallGen = Gen.listOfN(8, Gen.zip(Gen.choose(0L, 5L), Gen.alphaNumStr))
    forAll(Gen.zip(bigGen, smallGen), n = 8) { case (bigRows, smallRows) =>
      whenever(bigRows.nonEmpty && smallRows.nonEmpty) {
        val big = bigRows.toDF("k", "salt_src") // salt source nullable!
        val small = smallRows.toDF("k", "v")
        val salted = graft.plans.Skew.saltedJoin(
            big, small, "k", col("salt_src"), salts = 4)
          .select($"k", $"salt_src", $"v")
          .as[(Long, Option[Long], String)].collect().sorted.toSeq
        val plain = big.join(small, Seq("k"))
          .select($"k", $"salt_src", $"v")
          .as[(Long, Option[Long], String)].collect().sorted.toSeq
        assert(salted == plain)
      }
    }
  }

  test("BottomK merge is commutative, bounded, and sorted") {
    val agg = new BottomK(4)
    forAll(Gen.zip(Gen.listOf(Gen.alphaNumStr), Gen.listOf(Gen.alphaNumStr))) {
      case (xs, ys) =>
        val b1 = xs.foldLeft(agg.zero)(agg.reduce)
        val b2 = ys.foldLeft(agg.zero)(agg.reduce)
        val m12 = agg.merge(b1, b2)
        val m21 = agg.merge(b2, b1)
        assert(m12 == m21)
        assert(m12.size <= 4)
        assert(m12 == m12.sorted)
        assert(m12 == (xs ++ ys).filter(_ != null).distinct.sorted.take(4))
    }
  }

  test("§17.3 integer rung: literal long arithmetic and comparisons are " +
      "exact (vs BigInt), division rides the double rung") {
    import graft.plans.SparqlText
    val one = Seq(("s", "p", "o")).toDF("s", "p", "o")
    val lbl = Seq(("e", "en", "l")).toDF("entity", "lang", "label")
    val big = Gen.chooseNum(-(1L << 61), 1L << 61)
    val small = Gen.chooseNum(-(1L << 30), 1L << 30)
    forAll(Gen.zip(big, big), n = 12) { case (a, b) =>
      val r = SparqlText.run(
        s"SELECT ($a + $b AS ?add) ($a - $b AS ?sub) WHERE { ?x <p> ?o }",
        one, lbl).head()
      assert(BigInt(r.getLong(0)) == BigInt(a) + BigInt(b))
      assert(BigInt(r.getLong(1)) == BigInt(a) - BigInt(b))
    }
    forAll(Gen.zip(small, small), n = 12) { case (a, b) =>
      val r = SparqlText.run(
        s"SELECT ($a * $b AS ?mul) WHERE { ?x <p> ?o }", one, lbl).head()
      assert(BigInt(r.getLong(0)) == BigInt(a) * BigInt(b))
    }
    // adjacent longs past 2^53 never compare equal on the integer rung
    // (both would round to one double on the old blanket-cast path)
    forAll(big, n = 8) { a =>
      assert(SparqlText.run(
        s"SELECT ?x WHERE { ?x <p> ?o . FILTER($a < ${a + 1}) }",
        one, lbl).count() == 1)
      assert(SparqlText.run(
        s"SELECT ?x WHERE { ?x <p> ?o . FILTER($a = ${a + 1}) }",
        one, lbl).count() == 0)
    }
    // §17.3/XPath: integer ÷ integer leaves the integer rung
    assert(SparqlText.run("SELECT (7 / 2 AS ?q) WHERE { ?x <p> ?o }",
      one, lbl).head().getDouble(0) == 3.5)
  }

  test("waterfill laws on random strata: capacity-capped, budget-exact, " +
      "weight-proportional on the unsaturated set") {
    val strata: Gen[List[(Long, Long)]] =
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(1L, 10000L), Gen.chooseNum(1L, 9L)))
    forAll(Gen.zip(strata, Gen.chooseNum(1L, 10L)), n = 10) {
      case (rows, tenths) =>
        val caps = rows.zipWithIndex
          .map { case ((c, w), i) => (f"s$i%02d", c, w) }
          .toDF("source", "cap", "w")
        val out = graft.operators.TextOps
          .waterfillAlloc(caps, s"totC * $tenths div 10")
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3),
            r.getDouble(4)))
        val totC = rows.map(_._1).sum
        val budget = totC * tenths / 10
        // never over capacity
        out.foreach { case (c, _, _, a) => assert(a <= c + 1e-6) }
        // allocations meet the budget (to output rounding)
        assert(math.abs(out.map(_._4).sum - budget) < 0.01 * out.length)
        // unsaturated allocations share one λ = a/w
        val lams = out.collect { case (_, w, false, a) => a / w }
        if (lams.nonEmpty)
          assert(lams.max - lams.min < 1e-3, s"λ spread: $lams")
        // full-budget run saturates everything
        if (tenths == 10L) assert(out.forall(_._3))
        // the two-phase cumsum (forced via threshold 0) is EXACTLY the
        // single-window evaluation — same order, same prefix sums, same λ
        val twoPhase = graft.operators.TextOps
          .waterfillAlloc(caps, s"totC * $tenths div 10",
            twoPhaseThreshold = 0L)
          .collect().map(_.toSeq).toSet
        val onePhase = graft.operators.TextOps
          .waterfillAlloc(caps, s"totC * $tenths div 10")
          .collect().map(_.toSeq).toSet
        assert(twoPhase == onePhase)
    }
  }

  test("waterfill at 1e6 strata: bucket-partitioned cumsums, laws hold, " +
      "no strata-sized single-partition window") {
    import org.apache.spark.sql.functions._
    // deterministic synthetic strata: varied caps, weights 1..9
    val caps = spark.range(1000000L).select(
      format_string("s%09d", col("id")).as("source"),
      (pmod(col("id") * 2654435761L, lit(99991L)) + 1L).as("cap"),
      (col("id") % 9 + 1).as("w"))
    // plan shape (on the pre-materialization cumsum frame): the strata
    // cumsums are bucket-partitioned; the ONLY unpartitioned window runs
    // over the ≤256-row bucket summary
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val cum = graft.operators.TextOps
      .waterfillCumsum(caps.localCheckpoint(), "totC div 2", 10000L)
    val wins = cum.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "expected bucket-partitioned strata windows")
    assert(wins.count(_.partitionSpec.isEmpty) <= 1,
      s"unexpected unpartitioned windows: ${wins.map(_.partitionSpec)}")
    val out = graft.operators.TextOps.waterfillAlloc(caps, "totC div 2")
    // laws, verified distributively (no driver-side collect of strata):
    val tot = out.agg(
      sum(col("alloc")).as("sumA"),
      sum(col("cap")).as("sumC"),
      sum(when(col("alloc") > col("cap") + 1e-6, 1L).otherwise(0L)).as("over"),
      max(when(!col("saturated"), col("alloc") / col("w"))).as("lamMax"),
      min(when(!col("saturated"), col("alloc") / col("w"))).as("lamMin")
    ).head()
    val budget = tot.getLong(1) / 2
    assert(tot.getLong(2) == 0L, "an allocation exceeded its capacity")
    // rounding-bounded budget exactness over 1e6 strata
    assert(math.abs(tot.getDouble(0) - budget) < 0.0001 * 1000000,
      s"sum(alloc)=${tot.getDouble(0)} vs budget=$budget")
    // one shared λ across the unsaturated set
    assert(tot.getDouble(3) - tot.getDouble(4) < 1e-3)
  }

  test("durationSeconds parses every generated xsd:dayTimeDuration " +
      "lexical to its exact signed second count") {
    val gen = for {
      neg <- Gen.oneOf(true, false)
      d <- Gen.choose(0, 40)
      h <- Gen.choose(0, 23)
      m <- Gen.choose(0, 59)
      sec <- Gen.choose(0, 59)
      // which components appear lexically (absent = zero); at least one
      // must appear for a legal duration
      mask <- Gen.choose(1, 15)
    } yield {
      val dd = if ((mask & 1) != 0) d else 0
      val hh = if ((mask & 2) != 0) h else 0
      val mm = if ((mask & 4) != 0) m else 0
      val ss = if ((mask & 8) != 0) sec else 0
      val timePart =
        (if ((mask & 2) != 0) s"${hh}H" else "") +
          (if ((mask & 4) != 0) s"${mm}M" else "") +
          (if ((mask & 8) != 0) s"${ss}S" else "")
      val lex = (if (neg) "-" else "") + "P" +
        (if ((mask & 1) != 0) s"${dd}D" else "") +
        (if (timePart.nonEmpty) "T" + timePart else "")
      val total = (dd * 86400L + hh * 3600L + mm * 60L + ss) *
        (if (neg) -1 else 1)
      (lex, total)
    }
    val cases = Gen.listOfN(300, gen)
      .apply(Gen.Parameters.default, Seed(42L)).get
      .filter(_._1 != "P") // mask can zero out; "P" alone is not legal
      .filter(_._1 != "-P")
    assert(cases.nonEmpty)
    val df = cases.toDF("lex", "expected")
      .withColumn("got", graft.plans.SparqlText.durationSeconds(col("lex")))
    val bad = df.filter(col("got") =!= col("expected").cast("double"))
      .collect()
    assert(bad.isEmpty,
      s"durationSeconds mismatch: ${bad.take(3).mkString(", ")}")
  }
}
