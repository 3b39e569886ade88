package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Internals

import graft.util.Watchdog

/** Tests of the harness's own hash and attribution code (the percentile
  * code is tested in test_stats.py). Run by `run.py --selftest`; exits 1
  * on the first failed expectation. */
object SelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    expect("covered: overlapping and nested spans count once",
      Trace.covered(Seq((0L, 10L), (5L, 15L), (6L, 7L), (20L, 30L)), 0L, 100L) == 25L)
    expect("covered: spans are clipped to the window",
      Trace.covered(Seq((0L, 10L), (20L, 30L)), 5L, 25L) == 10L)
    expect("covered: no spans cover nothing", Trace.covered(Nil, 0L, 10L) == 0L)

    val work = Files.createTempDirectory(Paths.get("."), "selftest")
    val spark = Main.session(work)
    val sc = spark.sparkContext
    import spark.implicits._
    try {
      val df = (1 to 1000).map(i => (i.toLong, s"r$i", i / 7.0, Map(s"k$i" -> i)))
        .toDF("a", "b", "c", "m")
      val d0 = Check.digest(df)
      expect("digest: row count", d0.rows == 1000L)
      expect("digest: independent of row order and partitioning",
        Check.digest(df.orderBy(desc("a")).repartition(7)) == d0)
      expect("digest: doubles equal to 6 decimals hash the same",
        Check.digest(df.withColumn("c", col("c") + 1e-9)) == d0)
      expect("digest: a changed value changes the hash",
        Check.digest(df.withColumn("b", when(col("a") === 500, "x")
          .otherwise(col("b")))).hash != d0.hash)
      expect("digest: a duplicated row changes the hash",
        Check.digest(df.union(df.limit(1))).hash != d0.hash)
      expect("digest: duplicate column names are hashed",
        Check.digest(df.select(col("a"), col("a"))).rows == 1000L)
      expect("digest: empty result", Check.digest(df.limit(0)) == Digest(0L, "0-0"))

      // Attribution: a timed-out operation's tasks stay on its own job
      // group, not on the operation that runs after it. The slow tasks
      // spin without checking the interrupt flag, so the watchdog's cancel
      // cannot stop them: they are still running, and end, after the fast
      // operation has submitted its job.
      val trace = new Trace
      sc.addSparkListener(trace)
      var slowGroup = ""
      val slow = Watchdog.run(sc, "slow", 2L) {
        slowGroup = sc.getLocalProperty("spark.jobGroup.id")
        spark.range(0, 8, 1, 8).map { i =>
          val end = System.nanoTime() + 4000000000L
          var spins = 0L
          while (System.nanoTime() < end) spins += 1
          i + (spins & 0L)
        }.count()
      }
      var fastGroup = ""
      val fast = Watchdog.run(sc, "fast", 60L) {
        fastGroup = sc.getLocalProperty("spark.jobGroup.id")
        spark.range(0, 1000, 1, 3).selectExpr("sum(id)").collect()
      }
      Thread.sleep(500L)
      Internals.drainListenerBus(sc)
      sc.removeSparkListener(trace)
      expect("attribution: the slow operation timed out", slow.isLeft)
      expect("attribution: the fast operation succeeded", fast.isRight)
      val s = trace.group(slowGroup)
      val f = trace.group(fastGroup)
      expect(s"attribution: slow operation keeps its ${s.tasks} tasks", s.tasks > 0)
      val fastStart = f.jobSpans.values.map(_._1).minOption.getOrElse(Long.MaxValue)
      expect("attribution: a slow task ended after the fast operation's first job " +
        s"started (${s.lastTaskEndMs - fastStart} ms after) and stayed on the slow group",
        s.lastTaskEndMs > fastStart)
      // 3 scan tasks plus at most one final task per shuffle partition;
      // the slow operation's 8 tasks landing here would exceed it.
      expect(s"attribution: fast operation has only its own tasks (${f.tasks})",
        f.tasks >= 3 &&
          f.tasks <= 3 + spark.conf.get("spark.sql.shuffle.partitions").toInt)
      expect(s"attribution: fast operation has its own job(s) (${f.jobs})",
        f.jobs >= 1 && f.jobSpans.values.forall(_._2 != Long.MaxValue))
      expect("attribution: every task matched a group", trace.unattributedTasks == 0L)
    } finally {
      spark.stop()
      val st = Files.walk(work)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally st.close()
    }
    if (failures > 0) { System.err.println(s"[selftest] $failures failed"); sys.exit(1) }
  }
}
