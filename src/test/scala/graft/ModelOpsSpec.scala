package graft

import org.apache.spark.sql.functions._

/** Round-11 additions — properties the hash oracle can't express:
  * the Ed-Join gram filter is LOSSLESS against brute force on hostile
  * generated frames (planted mutations at every distance), the NB
  * weights match their closed form, the interval allocator conserves
  * time and never over-allocates value, and the journey/skew audits
  * replay exactly in memory. */
class ModelOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // classic DP Levenshtein for brute-force replays
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("editDistanceJoin == brute force on generated frames with planted " +
      "mutations at every distance, for several (k, q)") {
    val spark2 = spark
    import spark2.implicits._
    for (seed <- Seq(7, 23); k <- Seq(1, 2, 3); q <- Seq(2, 3)) {
      val rnd = new scala.util.Random(seed)
      def word(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
      val base = (0 until 40).map(_ => word(8 + rnd.nextInt(6)))
      // plant mutations: substitutions, insertions, deletions, 1..k+1 edits
      val mutated = base.flatMap { s =>
        (1 to k + 1).map { e =>
          var cur = s
          (1 to e).foreach { _ =>
            val i = rnd.nextInt(cur.length)
            rnd.nextInt(3) match {
              case 0 => cur = cur.updated(i, ('a' + rnd.nextInt(6)).toChar)
              case 1 => cur = cur.substring(0, i) + ('a' + rnd.nextInt(6)).toChar + cur.substring(i)
              case _ if cur.length > q => cur = cur.substring(0, i) + cur.substring(i + 1)
              case _ => ()
            }
          }
          cur
        }
      }
      val names = (base ++ mutated).distinct
      val got = operators.TextOps.editDistanceJoin(
          names.toDF("name").repartition(5), k, q)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      val expect = (for {
        a <- names; b <- names if a < b
        d = lev(a, b) if d <= k
      } yield (a, b, d)).toSet
      assert(got == expect, s"seed=$seed k=$k q=$q")
    }
  }

  test("nbTrain: weights equal the closed-form smoothed log-odds in " +
      "integer fixed-point units") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (true, "la"), (true, "la"), (true, "vie"),
      (false, "the"), (false, "the"), (false, "the"), (false, "life"))
    val got = operators.TextOps.nbTrain(rows.toDF("pos", "token"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (tp, tn, v) = (3L, 4L, 4L)
    def w(np: Long, nn: Long): Long =
      math.round((math.log(np + 1.0) - math.log(tp + v.toDouble)
        - math.log(nn + 1.0) + math.log(tn + v.toDouble)) *
        operators.TextOps.NbQuantum)
    assert(got == Map(
      "la" -> ((2L, 0L, w(2, 0))), "vie" -> ((1L, 0L, w(1, 0))),
      "the" -> ((0L, 3L, w(0, 3))), "life" -> ((0L, 1L, w(0, 1)))))
  }

  test("q248: the distilled filter reproduces the held-out quality label " +
      "far above chance (the learned model carries real signal)") {
    val rows = operators.TextOps.q248NbScore(spark, dir).collect()
    assert(rows.nonEmpty)
    val correct = rows.count(r => r.getBoolean(3) == r.getBoolean(1))
    assert(correct.toDouble / rows.length > 0.8,
      s"accuracy ${correct.toDouble / rows.length} on ${rows.length} docs")
  }

  test("allocateIntervals: conserves busy time, never over-allocates a " +
      "value, and equals an in-memory bucket replay") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(31)
    val bucket = 1000L
    val iv = (0 until 300).map { i =>
      val t0 = rnd.nextInt(50000).toLong
      (s"g${i % 3}", t0, t0 + 1 + rnd.nextInt(5000), rnd.nextInt(1000000).toLong)
    }
    val got = operators.Events.allocateIntervals(
        iv.toDF("g", "us", "fin", "vmic").repartition(4), bucket)
      .collect().map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val expect = scala.collection.mutable.Map.empty[(String, Long), (Long, Long)]
    iv.foreach { case (g, us, fin, vmic) =>
      var hb = us / bucket
      while (hb <= (fin - 1) / bucket) {
        val h0 = hb * bucket
        val ov = math.min(fin, h0 + bucket) - math.max(us, h0)
        val prev = expect.getOrElse((g, h0), (0L, 0L))
        expect((g, h0)) = (prev._1 + ov, prev._2 + vmic * ov / (fin - us))
        hb += 1
      }
    }
    assert(got == expect.toMap)
    // conservation: total busy time == total interval length
    assert(got.values.map(_._1).sum == iv.map(t => t._3 - t._2).sum)
  }

  test("q252: transition counts replay exactly and rows normalize per src") {
    val spark2 = spark
    import spark2.implicits._
    val got = operators.Events.q252MarkovTransitions(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long, Long)].collect()
    val expect = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._3)).map(_._2)
      ("START" +: ordered.init.toSeq).zip(ordered)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expect)
    assert(got.values.sum == ev.length)
  }

  test("q250: the audit replays from exact key counts; salt >= 1 always") {
    val spark2 = spark
    import spark2.implicits._
    val got = operators.Relational.q250SkewAudit(spark, dir).collect()
    val counts = Tables.lineitem(spark, dir).groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    val total = counts.values.sum
    assert(got.length == 10)
    got.foreach { r =>
      val (key, cnt) = (r.getLong(0), r.getLong(1))
      assert(counts(key) == cnt)
      assert(r.getLong(4) >= 1L)
      assert(r.getLong(4) == math.max(1L, math.ceil(cnt * 32.0 / total).toLong))
    }
    // top-10 really are the heaviest under (cnt desc, key)
    val top = counts.toSeq.sortBy { case (k, n) => (-n, k) }.take(10).map(_._1)
    assert(got.map(_.getLong(0)).toSeq == top)
  }

  test("q249 HITS: 20 rows in (authority desc, node) order, scores " +
      "non-negative, L1 mass bounded by 1") {
    val rows = operators.RdfOps.q249Hits(spark, dir).collect()
    assert(rows.length == 20)
    val auths = rows.map(_.getDouble(1))
    assert(auths.sameElements(auths.sortBy(-_)))
    assert(auths.forall(_ >= 0.0) && rows.map(_.getDouble(2)).forall(_ >= 0.0))
    assert(auths.sum <= 1.0 + 1e-6)
  }

  test("q249 HITS: the driver-side rounds return the distributed rounds' " +
      "scores and the same 20 rows") {
    import operators.RdfOps.{entityEdges, hits}
    val e = entityEdges(spark, dir)
    val (local, distributed) = (hits(e).collect().toSet, hits(e, localMaxRows = 0).collect().toSet)
    assert(local.size > 20 && local == distributed)
    val top = hits(e, localMaxRows = 0)
      .orderBy(round(col("a"), 8).desc, col("node").asc).limit(20)
      .select(col("node"), round(col("a"), 8).as("authority"), round(col("h"), 8).as("hub"))
    assert(operators.RdfOps.q249Hits(spark, dir).collect().toSeq == top.collect().toSeq)
  }

  test("HITS: a null edge target is one group whose sum counts into the norm") {
    import spark.implicits._
    // a→b, a→null: the authority norm is 1/3 + 1/3, so b gets 0.5 (1.0 if
    // the null group were dropped); a hubs alone, and the null node joins
    // no score
    val e = Seq[(String, String)](("a", "b"), ("a", null)).toDF("src", "dst")
    for (cap <- Seq(0, plans.Closure.LocalMaxRows)) {
      val got = operators.RdfOps.hits(e, cap).as[(String, Double, Double)].collect().toSet
      assert(got == Set(("a", 0.0, 1.0), ("b", 0.5, 0.0), (null, 0.0, 0.0)), s"cap $cap")
    }
  }
}
