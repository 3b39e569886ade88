package graft
import graft.util.Session
import scala.collection.mutable.ArrayBuffer

object Bench {
  /** One query's timing in one pass: (name, signed wall sec — negative on
    * failure, executor task sec). */
  private[graft] type Timing = (String, Double, Double)

  /** Per-query min of two primary passes; the task column follows the
    * pass that supplied the min (task time of the same execution window).
    * A failure in either pass stays negative. */
  private[graft] def merge(a: Seq[Timing], b: Seq[Timing]): Seq[Timing] =
    a.zip(b).map { case ((name, x, tx), (_, y, ty)) =>
      val m = math.min(math.abs(x), math.abs(y))
      val t = if (math.abs(x) <= math.abs(y)) tx else ty
      (name, if (x >= 0 && y >= 0) m else -math.max(m, 0.01), t)
    }

  /** Merge of the contention pass into the primary result. Unlike
    * [[merge]], the extra pass can only IMPROVE a query's standing: a
    * transient failure in it must not flip a query that was clean in both
    * primary passes, and a clean window in it redeems a previously-failed
    * query. The task column follows the pass that supplied the wall
    * figure — the min-|wall| pass when both failed. */
  private[graft] def mergeExtra(a: Seq[Timing], b: Seq[Timing]): Seq[Timing] =
    a.zip(b).map { case ((name, x, tx), (_, y, ty)) =>
      val keepA =
        if ((x >= 0) == (y >= 0)) math.abs(x) <= math.abs(y) else x >= 0
      val w = if (x >= 0 && y >= 0) math.min(x, y)
              else if (x >= 0) x
              else if (y >= 0) y
              else -math.max(math.min(-x, -y), 0.01)
      (name, w, if (keepA) tx else ty)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Aggregate executor task time (executorRunTime, ms) — the round-18
    // verdict's scaling ask: at sf0.1 per-query WALL time is dominated by
    // fixed driver-side costs (planning, job scheduling, codegen), so the
    // 8-core and 32-core wall clocks come out flat and the driver's
    // low-core scaling probe is blind. task_sec is the executor-side work
    // the cores actually share: task_sec/wall ≈ utilization, and
    // task_sec(8c) ≈ task_sec(32c) is the signature of a driver-bound
    // query (vs a plan that genuinely lost parallelism). Listener events
    // are delivered asynchronously; tasks finish before the timed action
    // returns, so per-query attribution error is bounded by bus lag
    // (µs–ms) — diagnostic-grade, never part of `value`.
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) taskMs.addAndGet(m.executorRunTime)
        }
      })
    // Absorb session/codegen warmup so it doesn't land on the first query,
    // and run in sorted order so per-query timings are comparable across
    // rounds.
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.operators.RdfOps.warmupFixtures()

    // Contention sentinel: a fixed CPU-bound probe re-timed throughout the
    // run. On an idle box its steady-state time is stable to within ~2x;
    // a co-tenant loading the machine inflates every probe it overlaps.
    // BENCH_r05 was silently corrupted by exactly that (2.7x inflation on a
    // shared box, indistinguishable from a plan regression after the fact) —
    // the probe series makes such a run self-describing.
    val probes = ArrayBuffer.empty[Double]
    def timeProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def probe(): Unit = probes += timeProbe()
    timeProbe() // discard: the probe's own codegen must not skew the series
    probe()

    // A failed query is reported as a NEGATIVE elapsed time so breakage is
    // visible in the timings JSON (a -0.1 entry can never be mistaken for a
    // fast success).
    // Optional args = query-name filter (substring match) for targeted
    // profiling; the driver invokes with no args → full sorted run.
    val wanted = args.toSeq
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      wanted.isEmpty || wanted.exists(n.contains)
    }
    // (name, signed wall sec, executor task sec) per query. The task
    // column is additive reporting only — the driver's schema fields
    // (metric/value/unit/queries/sf) are computed from wall exactly as
    // before.
    def runAll(): Seq[Timing] = selected.zipWithIndex.map {
      case ((name, fn), i) =>
        if (i % 25 == 0) probe() // interleave the sentinel with real work
        val tt0 = taskMs.get()
        val t0 = System.nanoTime()
        // bounded await per query (round 13: a single codegen hang left
        // the whole bench rc=124 with no JSON) — a timeout reports as
        // the same negative sentinel as a failure
        val ok = graft.util.Watchdog.run(spark.sparkContext, name,
          graft.util.Watchdog.defaultTimeoutSec) {
          fn(spark, sfDir).count()
        } match {
          case Right(_) => true
          case Left(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
        val sec = (System.nanoTime() - t0) / 1e9
        // Cache hygiene between queries: a query that persists intermediates
        // must not bleed memory pressure into the next query's timing.
        spark.catalog.clearCache()
        // NOT unpersisting leftover localCheckpoint RDDs here: an A/B run
        // measured the explicit getPersistentRDDs sweep 12% SLOWER on the
        // shared-query total (95.8→107.2 s) with the probe drift
        // unchanged — the block-manager churn costs more than the
        // residual blocks do, and the drift (0.18→0.6 s over ~320 query
        // executions) is JVM aging, not block pressure. The frames the
        // query itself materialized are already gone: its Watchdog scope
        // released them (graft.util.Materialize).
        // Clamp failures away from zero, matching the 2-decimal per-query
        // format: a fast failure must never round to -0.00 (which
        // JSON-parses equal to 0.0).
        val tsec = (taskMs.get() - tt0) / 1e3
        (name, if (ok) sec else -math.max(sec, 0.01), tsec)
    }
    // Contended = any probe ran >2.5x the series median (and slow in absolute
    // terms, so GC jitter on a ~0.05 s probe never trips it). The median —
    // not the min — anchors the test: sustained load inflates the whole
    // series, a transient spike inflates a few entries; both are flagged.
    def contended(): Boolean = {
      val s = probes.toSeq.sorted
      val med = s(s.size / 2)
      probes.exists(p => p > 2.5 * med && p > 0.15)
    }
    // Two passes, per-query minimum: machine noise on a shared box swings
    // single-run totals by >50%, and the first pass carries each query
    // shape's one-time codegen cost. The min is the steady-state number a
    // warmed cluster would see; a failure in either pass stays negative.
    val pass1 = runAll()
    // Inter-pass barrier: BENCH_r14 showed a slow-tail pass-2 anomaly
    // (q203 3.78→9.11, q275 4.62→7.92, q279 6.70→10.07 in passes_sec)
    // with FLAT probes — intra-JVM aging, not box contention. 313
    // queries of generated classes accumulate metaspace/old-gen garbage
    // that pass 2 then pays for mid-query; an explicit full GC between
    // passes moves that cost OFF the timed windows (min-of-passes
    // already discards the slower window, but a cleaner pass 2 tightens
    // the min toward steady state and de-noises the drift check).
    System.gc()
    Thread.sleep(500L)
    val pass2 = runAll()
    var allPasses = Seq(pass1, pass2)
    var results = merge(pass1, pass2)
    var passes = 2
    // If the sentinel tripped, buy one more pass: min-of-passes recovers the
    // true number for every query that got at least one clean window, and
    // the probe series still records that the run needed defending.
    if (contended()) {
      val pass3 = runAll()
      results = mergeExtra(results, pass3)
      allPasses :+= pass3
      passes = 3
    }
    probe()

    // The driver captures only the last ~2000 chars of output — BENCH_r07
    // proved a 171-query map overflows it and silently drops timings. So
    // the artifact is split: the COMPLETE record (full query names,
    // millisecond precision, full probe series) is written to
    // bench_latest.json in the working directory and committed per round;
    // stdout prints one short JSON line that keeps the driver's schema
    // (metric/value/unit/queries/sf) but trims the queries map to the 12
    // slowest, plus a "file" pointer at the full artifact.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmtQ(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val total = results.map { case (_, v, _) => math.abs(v) }.sum
    val fullQs = results.map { case (k, v, _) =>
      "\"" + k + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    // Executor task-time per query (and the board total): the scaling
    // signal the wall clock cannot carry at sf0.1 (see listener above).
    val fullTask = results.map { case (k, _, t) =>
      "\"" + k + "\":" + fmt(t)
    }.mkString("{", ",", "}")
    val taskTotal = results.map(_._3).sum
    val fullProbes = probes.map(fmt).mkString("[", ",", "]")
    // Every pass's raw timing per query (not just the min): round-over-
    // round drift questions are then answerable from the committed
    // artifact alone — two overlapping [pass1, pass2] spreads is box
    // variance, two disjoint ones is a real change — without a live A/B.
    val passQs = allPasses.head.indices.map { i =>
      val name = allPasses.head(i)._1
      "\"" + name + "\":" +
        allPasses.map(p => fmt(p(i)._2)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$fullQs,"task_sec":$fullTask,"task_sec_total":${fmt(taskTotal)},"cpus":$cpus,"passes_sec":$passQs,"probe_sec":$fullProbes,"contended":${contended()},"passes":$passes,"sf":"$sfDir"}"""
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json"))
    java.nio.file.Files.write(outFile,
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Per-SF reference copy (bench_latest.sf0.01.json / .sf0.1.json …):
    // the drift check compares same-SF only, and the gate benches at
    // sf0.01 while the driver benches at sf0.1 — one shared latest-file
    // made the sf0.1 slow tail structurally invisible to drift (round-14
    // verdict task 1). Only FULL runs may become a reference: a
    // query-filtered profiling run would shrink the shared-key set to
    // its filter and blind the next comparison.
    if (wanted.isEmpty) {
      val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
      java.nio.file.Files.write(
        outFile.resolveSibling(s"bench_latest.$sfName.json"),
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    val prefix = results.map { case (k, _, _) => k -> k.takeWhile(_ != '_') }.toMap
    val collisions = prefix.values.groupBy(identity).collect {
      case (p, g) if g.size > 1 => p
    }.toSet
    val slowest = results.sortBy { case (_, v, _) => -math.abs(v) }.take(12)
      .sortBy(_._1)
    def shortKey(k: String) = if (collisions(prefix(k))) k else prefix(k)
    val qs = slowest.map { case (k, v, _) =>
      "\"" + shortKey(k) + "\":" + fmtQ(v)
    }.mkString("{", ",", "}")
    // Same 12 keys, executor task seconds — lets the driver's scaling
    // probe separate "driver-bound at this SF" (task ≈ equal across core
    // counts, wall flat) from "lost parallelism" (task collapses).
    val taskQs = slowest.map { case (k, _, t) =>
      "\"" + shortKey(k) + "\":" + fmtQ(t)
    }.mkString("{", ",", "}")
    val shownProbes =
      if (probes.size <= 10) probes.toSeq
      else {
        val sampled = (0 until 8).map(i => probes(i * probes.size / 8))
        (sampled :+ probes.max :+ probes.min).sorted
      }
    val probeJson = shownProbes.map(fmtQ).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"task_sec":$taskQs,"task_sec_total":${fmt(taskTotal)},"cpus":$cpus,"probe_sec":$probeJson,"contended":${contended()},"passes":$passes,"sf":"$sfDir","file":"${outFile.toAbsolutePath}"}""")
    spark.stop()
  }
}
