package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.operators.RdfOps
import graft.plans.{Closure, TripleStore}
import graft.streaming.StreamOps
import graft.util.{Materialize, Watchdog}

/** Query-scoped materialization: every frame a query persists or
  * checkpoints through [[Materialize]] is released when its
  * [[Watchdog.run]] body exits, so each query leaves the long-lived
  * session as it found it — no cached partitions, no checkpoint files.
  * The loop family runs with a checkpoint directory set, so Closure and
  * ConnectedComponents take their reliable-checkpoint path and the file
  * deletion is exercised too. A streaming sink's trigger is a scope of
  * its own, so a running stream leaves nothing cached between triggers. */
class MaterializeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The fixpoint-loop queries: closures, components, link analysis,
    * peeling, and the ANN evals that persist shared corpus frames. */
  private val loopFamily = Seq("q16", "q17", "q87", "q110", "q170", "q198",
    "q212", "q249", "q256", "q298", "q341", "q352")

  private def cachedByRdd: Map[Int, Long] =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> i.numCachedPartitions.toLong).toMap

  private def filesUnder(d: Path): Set[Path] = {
    val st = Files.walk(d)
    try st.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".")).toSet
    finally st.close()
  }

  /** What `body` left behind: partitions cached under RDDs that were not
    * cached before it, and files new under `ckpt`. */
  private def residue(ckpt: Path)(body: => Unit): (Long, Set[Path]) = {
    val rdds0 = cachedByRdd.keySet
    val files0 = filesUnder(ckpt)
    body
    val left = cachedByRdd.collect { case (id, n) if !rdds0(id) => n }.sum
    (left, filesUnder(ckpt) -- files0)
  }

  private def withCheckpointDir[A](body: Path => A): A = {
    val d = Files.createTempDirectory("graft-materialize")
    spark.sparkContext.setCheckpointDir(d.toString)
    try body(d)
    finally {
      // SparkContext exposes no unset — clear the private var reflectively
      // so the shared test session goes back to localCheckpoint (the
      // ClosureSpec reset)
      try {
        val f = spark.sparkContext.getClass.getDeclaredField("checkpointDir")
        f.setAccessible(true)
        f.set(spark.sparkContext, None)
      } catch { case _: ReflectiveOperationException => }
    }
  }

  test("loop-family queries leave no cached partitions and no checkpoint " +
      "files behind under Watchdog.run") {
    val sc = spark.sparkContext
    withCheckpointDir { ckpt =>
      loopFamily.foreach { prefix =>
        val (name, fn) = SparkEntry.queries.find(_._1.startsWith(prefix + "_"))
          .getOrElse(fail(s"no query registered under $prefix"))
        val (left, files) = residue(ckpt) {
          val r = Watchdog.run(sc, name, 300L) {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
          }
          assert(r.isRight, s"$name failed: ${r.left.map(_.getMessage)}")
        }
        assert(left == 0L, s"$name left $left cached partitions")
        assert(files.isEmpty, s"$name left ${files.size} checkpoint files")
      }
    }
  }

  test("the distributed closure and HITS loops (cap 0) leave no cached " +
      "partitions and no checkpoint files behind under Watchdog.run") {
    // at sf0.001 the loop-family queries finish on the driver, so force
    // the distributed loops here to keep their releases covered
    val sc = spark.sparkContext
    val edges = TripleStore.edges(spark, dir, withLineitems = false)
    val roots = Tables.region(spark, dir)
      .select(concat(lit("R"), col("r_regionkey").cast("string")).as("node"))
    val loops = Seq[(String, () => DataFrame)](
      "reachingTo" -> (() => Closure.reachingTo(edges, roots, functionalEdges = true,
        localMaxRows = 0)),
      "rootLabels" -> (() => Closure.rootLabels(edges, roots, functionalEdges = true,
        localMaxRows = 0)),
      "ancestorPairs" -> (() => Closure.ancestorPairs(edges, localMaxRows = 0)),
      "hits" -> (() => RdfOps.hits(RdfOps.entityEdges(spark, dir), localMaxRows = 0)))
    withCheckpointDir { ckpt =>
      loops.foreach { case (name, loop) =>
        @volatile var inside = (0L, Set.empty[Path])
        val (left, files) = residue(ckpt) {
          val r = Watchdog.run(sc, name, 300L) {
            inside = residue(ckpt) {
              loop().write.format("noop").mode("overwrite").save()
            }
          }
          assert(r.isRight, s"$name failed: ${r.left.map(_.getMessage)}")
        }
        assert(inside._1 > 0L || inside._2.nonEmpty,
          s"$name must have cached or checkpointed frames inside its scope")
        assert(left == 0L, s"$name left $left cached partitions")
        assert(files.isEmpty, s"$name left ${files.size} checkpoint files")
      }
    }
  }

  test("a body that registers frames and then throws leaves nothing behind") {
    val sc = spark.sparkContext
    withCheckpointDir { ckpt =>
      @volatile var inside = (0L, Set.empty[Path])
      val (left, files) = residue(ckpt) {
        val r = Watchdog.run(sc, "throws", 120L) {
          inside = residue(ckpt) {
            Materialize.persist(spark.range(0, 1000).toDF("id")).count()
            Materialize.localCheckpoint(spark.range(0, 100).toDF("id"))
            Materialize.checkpoint(spark.range(0, 100).toDF("id"))
          }
          throw new IllegalStateException("boom")
        }
        assert(r.left.map(_.getMessage) == Left("boom"))
      }
      assert(inside._1 > 0L && inside._2.nonEmpty,
        "the body must have cached blocks and written checkpoint files")
      assert(left == 0L, s"a failed body left $left cached partitions")
      assert(files.isEmpty, s"a failed body left ${files.size} checkpoint files")
    }
  }

  test("outside a query scope Materialize registers nothing") {
    val df = Materialize.persist(spark.range(0, 100).toDF("id"))
    assert(df.count() == 100L)
    Watchdog.run(spark.sparkContext, "unrelated", 60L)(spark.range(10).count())
    assert(df.storageLevel != StorageLevel.NONE,
      "a scope must free only what its own body registered")
    Materialize.release(df)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("Materialize.release drops a local checkpoint's storage; a released " +
      "frame fails loudly instead of recomputing silently") {
    val rdds0 = cachedByRdd.keySet
    def fresh = cachedByRdd.collect { case (id, n) if !rdds0(id) => n }.sum
    val df = Materialize.localCheckpoint(spark.range(0, 1000).toDF("id"))
    assert(df.count() === 1000L)
    assert(fresh > 0L, "eager localCheckpoint must have cached blocks")
    Materialize.release(df)
    assert(fresh == 0L, "release must drop the checkpoint blocks")
    // a local checkpoint has no lineage: reuse after release must throw,
    // not silently recompute (the "only release dead frames" contract)
    val failed =
      try { df.count(); false }
      catch { case _: Throwable => true }
    assert(failed, "reading a released local checkpoint must fail loudly")
  }

  test("streaming sink triggers leave no cached partitions behind: " +
      "klDriftSink and nearDupAdmitSink over three micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def triggersLeaveNothing(name: String)(
        start: (DataFrame, java.io.File) => StreamingQuery): Unit = {
      val out = Files.createTempDirectory("graft-trigger-scope").toFile
      try {
        val input = MemoryStream[(Long, String, String)]
        val rdds0 = cachedByRdd.keySet
        val q = start(input.toDF().toDF("doc_id", "source", "text"), out)
        try docs.grouped(docs.length / 3 + 1).foreach { b =>
          input.addData(b.toSeq)
          q.processAllAvailable()
        } finally q.stop()
        val left = cachedByRdd.collect { case (id, n) if !rdds0(id) => n }.sum
        assert(left == 0L, s"$name left $left cached partitions after its triggers")
      } finally graft.util.Fs.deleteRecursively(out)
    }
    def under(d: java.io.File, f: String) = new java.io.File(d, f).getAbsolutePath
    triggersLeaveNothing("klDriftSink") { (in, d) =>
      StreamOps.klDriftSink(in, under(d, "state"), under(d, "report"))(under(d, "ckpt"))
    }
    triggersLeaveNothing("nearDupAdmitSink") { (in, d) =>
      StreamOps.nearDupAdmitSink(in.select("doc_id", "text"), under(d, "claims"),
        under(d, "admitted"))(under(d, "ckpt"))
    }
  }
}
