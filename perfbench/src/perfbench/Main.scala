package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.perfbench.Internals

import graft.util.Watchdog

/** JVM-wide counters read around one operation. One client thread runs
  * operations back to back, so the window between two reads belongs to
  * one operation. */
final case class JvmCounters(jitMs: Long, gcMs: Long, codegenNs: Long,
                             codegenClasses: Long)

object JvmCounters {
  def read(): JvmCounters = JvmCounters(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum,
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** One timed execution of an operation. */
final class Execution(val op: Op) {
  var group = ""
  var startMs = 0L
  var buildEndMs = 0L
  var endMs = 0L
  var wallS = 0.0
  var buildS = 0.0
  var ok = false
  var error = ""
  var digest = Digest(0L, "")
  var recordsOut = 0L
  var cachedLeft = 0L
  var checkpointFilesLeft = 0L
  var jvm: Option[(JvmCounters, JvmCounters, Double)] = None
}

/** The benchmark's JVM side: builds the session, runs a cold pass, a
  * warm-up pass and warm passes of one workload in a closed loop, checks
  * every output, and writes the raw record as JSON for `run.py` to reduce.
  * The seed's inputs are generated beforehand by gen.py. */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = Runtime.getRuntime.availableProcessors()
  private val opTimeoutSec = 60L

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    s
  }

  /** Session build plus the same warmup `graft.Bench` does. */
  def setUp(work: Path): SparkSession = {
    val s = session(work)
    s.range(1000000).selectExpr("sum(id)").collect()
    graft.operators.RdfOps.warmupFixtures()
    s
  }

  private def filesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.count(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")).toLong
      finally st.close()
    }

  private def cachedPartitions(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  def main(args: Array[String]): Unit = args.toList match {
    case List(workload, seed, seconds, budget, trace, data, out) =>
      run(workload, seed.toLong, seconds.toDouble, budget.toDouble, trace == "1",
        Paths.get(data).toAbsolutePath, Paths.get(out))
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> " +
        "<budgetSeconds> <trace 0|1> <dataDir> <outJson>")
      sys.exit(2)
  }

  /** One run: `seconds` of measurement (at least the cold, warm-up and one
    * warm pass); further warm passes start only while the JVM is younger
    * than `budgetS` by the last pass's length. */
  def run(workloadName: String, seed: Long, seconds: Double, budgetS: Double,
          traced: Boolean, data: Path, outFile: Path): Unit = {
    val work = Files.createDirectories(data.resolve(s"run-${ProcessHandle.current().pid()}"))
    val spark = setUp(work)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val seedDir = data.resolve(s"seed-$seed")
    val workload = Workloads.load(workloadName, seedDir, work.resolve("out"))
    val expectedFile = seedDir.resolve(s"expected-$workloadName.tsv")
    val expected: Map[String, Digest] =
      if (!Files.exists(expectedFile)) Map.empty
      else Files.readAllLines(expectedFile).asScala.map(_.split('\t')).collect {
        case Array(n, r, h) => n -> Digest(r.toLong, h)
      }.toMap

    val sc = spark.sparkContext
    val trace = new Trace
    val ckptDir = work.resolve("checkpoints")
    val probes = mutable.ArrayBuffer.empty[Double]
    def probe(): Unit = {
      val t0 = System.nanoTime()
      Watchdog.run(sc, "probe", opTimeoutSec) {
        spark.range(10000000L).selectExpr("sum(id * 3 + 1)").collect()
      }
      probes += (System.nanoTime() - t0) / 1e9
    }

    def execute(op: Op, tracedPass: Boolean): Execution = {
      val x = new Execution(op)
      val cached0 = cachedPartitions(sc)
      val ckpt0 = filesUnder(ckptDir)
      val jvm0 = if (tracedPass) { JvmCounters.resetHeapPeak(); Some(JvmCounters.read()) } else None
      x.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = Watchdog.run(sc, op.name, opTimeoutSec) {
        x.group = sc.getLocalProperty("spark.jobGroup.id")
        val df = op.build(spark)
        x.buildS = (System.nanoTime() - t0) / 1e9
        x.buildEndMs = System.currentTimeMillis()
        op.finish(df)
      }
      x.wallS = (System.nanoTime() - t0) / 1e9
      x.endMs = System.currentTimeMillis()
      jvm0.foreach(j0 => x.jvm = Some((j0, JvmCounters.read(), JvmCounters.heapPeakMb)))
      res match {
        case Left(e) => x.error = String.valueOf(e.getMessage).take(300)
        case Right(d) =>
          val checked = op.readBack match {
            case None => Right(d)
            case Some(read) =>
              Watchdog.run(sc, s"check-${op.name}", opTimeoutSec)(Check.digest(read(spark)))
          }
          checked match {
            case Left(e) => x.error = "read-back failed: " + String.valueOf(e.getMessage).take(300)
            case Right(got) =>
              x.digest = got
              x.recordsOut = got.rows
              val problems = op.expectRows.filter(_ != got.rows)
                .map(n => s"expected $n records, got ${got.rows}").toSeq ++
                expected.get(op.name).filter(_ != got)
                  .map(e => s"expected $e for seed $seed, got $got")
              x.ok = problems.isEmpty
              x.error = problems.mkString("; ")
          }
      }
      // Residue: what the operation left cached or checkpointed, read
      // before the cache is cleared for the next operation.
      x.cachedLeft = cachedPartitions(sc) - cached0
      x.checkpointFilesLeft = filesUnder(ckptDir) - ckpt0
      spark.catalog.clearCache()
      x
    }

    val passes = mutable.ArrayBuffer.empty[(String, Double, Seq[Execution])]
    def runPass(kind: String): Unit = {
      probe()
      if (traced) sc.addSparkListener(trace)
      val t0 = System.nanoTime()
      val xs = workload.ops.map(execute(_, traced))
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) { Internals.drainListenerBus(sc); sc.removeSparkListener(trace) }
      passes += ((kind, wall, xs))
      System.err.println(f"[perfbench] $workloadName $kind pass: $wall%.2f s " +
        xs.map(x => f"${x.op.name}=${x.wallS}%.2f${if (x.ok) "" else "!"}").mkString(" "))
    }

    // Closed loop: the cold pass, a warm-up pass (the first pass after the
    // cold one is still on the JIT's warming curve, so it is recorded but
    // not reported as warm), then warm passes until `seconds` of
    // measurement have passed, at least one. A traced run has the same
    // passes, all traced, so it compares with an untraced run pass by pass.
    val measureStart = System.nanoTime()
    def measuredS = (System.nanoTime() - measureStart) / 1e9
    def lifeS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    runPass("cold")
    runPass("warmup")
    runPass("warm")
    while (measuredS < seconds && lifeS + passes.last._2 < budgetS) runPass("warm")
    probe()

    // Every execution of an operation must agree; the first run on a seed
    // whose executions all pass records them as the seed's expected outputs.
    val all = passes.flatMap(_._3)
    all.groupBy(_.op.name).values.foreach { xs =>
      val ds = xs.map(_.digest).distinct
      if (ds.size > 1) xs.foreach { x =>
        x.ok = false
        x.error = s"result differs between passes: ${ds.mkString(", ")}"
      }
    }
    if (expected.isEmpty && all.forall(_.ok))
      Files.write(expectedFile, passes.head._3.map { x =>
        s"${x.op.name}\t${x.digest.rows}\t${x.digest.hash}"
      }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()

    val json = Json.obj(
      "workload" -> Json.str(workloadName), "seed" -> seed.toString,
      "cores" -> cores.toString, "traced" -> traced.toString,
      "setup_s" -> Json.num(setupS),
      "probe_s" -> Json.arr(probes.map(Json.num)),
      "unattributed_tasks" -> trace.unattributedTasks.toString,
      "passes" -> Json.arr(passes.map { case (kind, wall, xs) =>
        Json.obj("kind" -> Json.str(kind), "wall_s" -> Json.num(wall),
          "ops" -> Json.arr(xs.map(x => opJson(x, if (traced) Some(trace) else None))))
      }))
    Files.write(outFile, json.getBytes(StandardCharsets.UTF_8))
    deleteTree(work)
  }

  private def opJson(x: Execution, trace: Option[Trace]): String = {
    val base = Seq(
      "name" -> Json.str(x.op.name), "wall_s" -> Json.num(x.wallS),
      "ok" -> x.ok.toString, "error" -> Json.str(x.error),
      "rows" -> x.digest.rows.toString, "hash" -> Json.str(x.digest.hash),
      "records_out" -> x.recordsOut.toString,
      "materialize.cached_partitions_left" -> x.cachedLeft.toString,
      "materialize.checkpoint_files_left" -> x.checkpointFilesLeft.toString)
    val layers = trace.toSeq.flatMap(t => layerMetrics(x, t.group(x.group)))
    Json.obj(base ++ layers.map { case (k, v) => k -> Json.num(v) }: _*)
  }

  /** The per-layer figures of one traced execution. */
  def layerMetrics(x: Execution, w: GroupWork): Seq[(String, Double)] = {
    val spans = w.jobSpans.values.map { case (s, e) => (s, math.min(e, x.endMs)) }
    val eager = w.jobSpans.values.filter(_._1 < x.buildEndMs)
    val jvm = x.jvm.toSeq.flatMap { case (a, b, heap) => Seq(
      "codegen.compile_s" -> (b.codegenNs - a.codegenNs) / 1e9,
      "codegen.classes" -> (b.codegenClasses - a.codegenClasses).toDouble,
      "jvm.jit_s" -> (b.jitMs - a.jitMs) / 1e3,
      "jvm.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
      "jvm.heap_peak_mb" -> heap)
    }
    val mb = 1048576.0
    Seq(
      "operators.build_s" -> x.buildS,
      "operators.eager_jobs" -> eager.size.toDouble,
      "operators.eager_s" -> Trace.covered(eager.map { case (s, e) =>
        (s, math.min(e, x.buildEndMs)) }, x.startMs, x.buildEndMs) / 1e3,
      "catalyst.plan_s" -> w.planS,
      "catalyst.sql_executions" -> w.sqlExecutions.toDouble,
      "scheduler.jobs" -> w.jobs.toDouble,
      "scheduler.stages" -> w.stages.toDouble,
      "scheduler.tasks" -> w.tasks.toDouble,
      "scheduler.delay_s" -> w.schedDelayMs / 1e3,
      "driver.gap_s" -> math.max(0.0,
        x.wallS - Trace.covered(spans, x.startMs, x.endMs) / 1e3),
      "executor.run_s" -> w.runMs / 1e3,
      "executor.cpu_s" -> w.cpuNs / 1e9,
      "executor.gc_s" -> w.gcMs / 1e3,
      "shuffle.write_mb" -> w.shuffleWriteB / mb,
      "shuffle.read_mb" -> w.shuffleReadB / mb,
      "spill.disk_mb" -> w.spillDiskB / mb,
      "sources.records_read" -> w.recordsRead.toDouble,
      "sources.mb_read" -> w.bytesRead / mb,
      "sources.parse_s" -> w.readTaskMs / 1e3,
      "sinks.records_written" -> w.recordsWritten.toDouble,
      "sinks.mb_written" -> w.bytesWritten / mb,
      "sinks.write_s" -> w.writeTaskMs / 1e3) ++ jvm
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
}

/** Just enough JSON writing for the benchmark's raw record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
