package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.StreamOps

/** Kill-and-resume coverage for every state-carrying sink (round-14
  * verdict task 5). Technique: a DURABLE file-backed source (parquet
  * files appended to a dir) + the SAME checkpoint across query
  * instances — the restart contract Structured Streaming actually
  * guarantees (MemoryStream state dies with the JVM, so the parity
  * specs' streams can't restart). A crash between the sink's state swap
  * and the checkpoint commit is simulated by deleting the checkpoint's
  * last `commits/<N>` file: on restart Spark REPLAYS that trigger with
  * the same batchId — the exact at-least-once window the batch_id
  * replay guard (and the claims/dedup idempotence of the other sinks)
  * must absorb. */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._

  /** Simulate "crashed after the state swap, before the commit": the
    * next start of the same checkpoint replays the last trigger. The
    * Hadoop local FS keeps a `.N.crc` checksum sibling next to each
    * commit marker — it must go too, or the replay's re-commit rename
    * trips FileAlreadyExists and Spark misreads it as a concurrent
    * query on the same checkpoint. */
  private def dropLastCommit(ckpt: String): Unit = {
    val dir = new java.io.File(ckpt, "commits")
    val commits = dir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty, "no committed trigger to crash")
    val crc = new java.io.File(dir, s".${commits.last.getName}.crc")
    assert(commits.last.delete(), "could not remove commit marker")
    if (crc.exists()) assert(crc.delete(), "could not remove crc sibling")
  }

  test("decayedCountsSink survives kill-and-resume WITH a crash-replayed " +
      "trigger: the batch_id guard absorbs the replay, batch 2 still " +
      "merges, and the final report equals batch q283") {
    val dir = java.nio.file.Files.createTempDirectory("dcrestart").toFile
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.events(spark, sfDir)
        .select(col("event_type"), col("ts")).orderBy(col("ts"))
        .as[(String, Timestamp)].collect()
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      val schema = StructType(Seq(StructField("event_type", StringType),
        StructField("ts", TimestampType)))
      def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
      b1.toSeq.toDF("event_type", "ts").write.mode("append").parquet(srcDir)
      val q1 = StreamOps.decayedCountsSink(src(), statePath, reportPath)(ckpt)
      q1.processAllAvailable(); q1.stop()
      // crash: state swapped, commit lost -> trigger 0 will replay
      dropLastCommit(ckpt)
      b2.toSeq.toDF("event_type", "ts").write.mode("append").parquet(srcDir)
      val q2 = StreamOps.decayedCountsSink(src(), statePath, reportPath)(ckpt)
      q2.processAllAvailable(); q2.stop()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val streamed = spark.read.parquet(reportPath)
        .select("event_type", "n_events", "decayed_micro", "decayed")
        .collect().map(key).toSet
      val batch = graft.operators.Events.q283DecayedCounts(spark, sfDir)
        .select("event_type", "n_events", "decayed_micro", "decayed")
        .collect().map(key).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"replay double-counted or lost rows:\n stream=$streamed\n batch=$batch")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("preferenceSink survives kill-and-resume with a crash-replayed " +
      "trigger: the pair-matrix state equals the exact pair counts over " +
      "all comparisons (no double count, no loss)") {
    val dir = java.nio.file.Files.createTempDirectory("prefrestart").toFile
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    try {
      // deterministic synthetic verdicts over 4 sources
      val srcs = (0 until 4).map(i => s"src$i")
      val comparisons = (for {
        a <- srcs.indices; b <- srcs.indices if a != b
        r <- 0 until (a + b + 1)
      } yield (srcs(a), srcs(b),
        if ((a * 7 + b * 3 + r) % 3 == 0) srcs(a) else srcs(b))).toVector
      val (b1, b2) = comparisons.splitAt(comparisons.length / 2)
      val schema = StructType(Seq(StructField("sa", StringType),
        StructField("sb", StringType), StructField("winner", StringType)))
      def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
      b1.toDF("sa", "sb", "winner").write.mode("append").parquet(srcDir)
      val q1 = StreamOps.preferenceSink(src(), statePath, reportPath)(ckpt)
      q1.processAllAvailable(); q1.stop()
      dropLastCommit(ckpt)
      b2.toDF("sa", "sb", "winner").write.mode("append").parquet(srcDir)
      val q2 = StreamOps.preferenceSink(src(), statePath, reportPath)(ckpt)
      q2.processAllAvailable(); q2.stop()
      val state = spark.read.parquet(statePath)
        .filter(col("i").isNotNull)
        .select("i", "j", "nij", "wi")
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      // exact expected pair matrix over ALL comparisons, counted once
      val expected = comparisons
        .map { case (sa, sb, w) =>
          val (i, j) = if (sa < sb) (sa, sb) else (sb, sa)
          (i, j, w)
        }
        .groupBy { case (i, j, _) => (i, j) }
        .map { case (k, vs) =>
          k -> (vs.size.toLong, vs.count { case (i, _, w) => w == i }.toLong)
        }
      assert(state === expected,
        s"pair matrix drifted under replay:\n state=$state\n expected=$expected")
      // and the report is the MM fit of exactly that matrix
      assert(spark.read.parquet(reportPath).count() === srcs.size.toLong)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("weightedReservoirSink survives kill-and-resume with a crash-" +
      "replayed trigger: the dedup merge absorbs the echo and the final " +
      "reservoir equals batch q300") {
    val dir = java.nio.file.Files.createTempDirectory("wresrestart").toFile
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text").as[(Long, String)].collect()
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
      b1.toSeq.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      val q1 = StreamOps.weightedReservoirSink(src(), 50, statePath)(ckpt)
      q1.processAllAvailable(); q1.stop()
      dropLastCommit(ckpt)
      b2.toSeq.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      val q2 = StreamOps.weightedReservoirSink(src(), 50, statePath)(ckpt)
      q2.processAllAvailable(); q2.stop()
      val streamed = spark.read.parquet(statePath)
        .select("doc_id", "es_key")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val batch = graft.operators.TextOps.q300WeightedSample(spark, sfDir)
        .select("doc_id", "es_key")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch.size == 50 && streamed == batch,
        s"reservoir corrupted by replay: missing=${batch -- streamed} " +
          s"extra=${streamed -- batch}")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("cdcAdmitSink survives kill-and-resume with a crash-replayed " +
      "trigger: self-claim rejection keeps admitted unique, an embedded " +
      "copy in batch 2 is rejected, a fresh doc is admitted") {
    val dir = java.nio.file.Files.createTempDirectory("cdcrestart").toFile
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val claimsPath = new java.io.File(dir, "claims").getAbsolutePath
    val admittedPath = new java.io.File(dir, "admitted").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val b1 = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 40)
        .select("doc_id", "text").as[(Long, String)].collect()
      // batch 2: an exact copy of a b1 doc under a fresh id (must be
      // rejected via its claimed chunks) + a doc of unique tokens (must
      // be admitted)
      val freshText = (0 until 120).map(i => s"zq${i}xw").mkString(" ")
      val b2 = Seq((100000L, b1.head._2), (100001L, freshText))
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
      b1.toSeq.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      val q1 = StreamOps.cdcAdmitSink(src(), claimsPath, admittedPath)(ckpt)
      q1.processAllAvailable(); q1.stop()
      val admittedAfterB1 = spark.read.parquet(admittedPath)
        .select("doc_id").as[Long].collect().toSet
      dropLastCommit(ckpt)
      b2.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      val q2 = StreamOps.cdcAdmitSink(src(), claimsPath, admittedPath)(ckpt)
      q2.processAllAvailable(); q2.stop()
      val admitted = spark.read.parquet(admittedPath)
        .select("doc_id").as[Long].collect()
      // replayed trigger re-admits NOTHING: every b1 doc's chunks are in
      // claims (its own claim), so the admitted file has no duplicates
      assert(admitted.length === admitted.distinct.length,
        s"replay duplicated admitted rows: ${admitted.groupBy(identity).collect { case (k, v) if v.length > 1 => k }.toSeq}")
      assert(admitted.toSet.intersect(admittedAfterB1) === admittedAfterB1,
        "replay lost previously admitted docs")
      assert(!admitted.contains(100000L), "embedded exact copy must reject")
      assert(admitted.contains(100001L), "fresh unique doc must admit")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  /** Shared crash-replay harness for the guarded sum-merge sinks (round
    * 16: one kill-and-resume spec per stateful sink, not just the four
    * that shared code transitively) — writes batch 1, stops, drops the
    * commit marker (crash between state swap and checkpoint commit),
    * appends batch 2, resumes the SAME checkpoint. Returns after the
    * resumed query drains both the replayed and the new trigger. */
  private def crashResume[A](dir: java.io.File, schema: StructType,
      b1: Seq[A], b2: Seq[A], toDf: Seq[A] => DataFrame)(
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
    toDf(b1).write.mode("append").parquet(srcDir)
    val q1 = start(src(), ckpt)
    q1.processAllAvailable(); q1.stop()
    dropLastCommit(ckpt)
    toDf(b2).write.mode("append").parquet(srcDir)
    val q2 = start(src(), ckpt)
    q2.processAllAvailable(); q2.stop()
  }

  test("cmsSink survives kill-and-resume with a crash-replayed trigger: " +
      "probing the merged counters still reproduces batch q268 exactly") {
    val dir = java.nio.file.Files.createTempDirectory("cmsrestart").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.documents(spark, sfDir)
        .select("text").as[String].collect()
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      crashResume(dir, StructType(Seq(StructField("text", StringType))),
        b1.toSeq, b2.toSeq, (s: Seq[String]) => s.toDF("text")) {
        (src, ckpt) => StreamOps.cmsSink(src, statePath)(ckpt)
      }
      val counters = spark.read.parquet(statePath)
        .filter(!col("is_sentinel"))
        .drop("batch_id", "is_sentinel", "ckpt")
      val tf = graft.operators.TextOps.cmsTf(
        graft.Tables.documents(spark, sfDir).select(col("text")))
      val probed = graft.operators.TextOps.cmsProbe(counters,
          tf.orderBy(col("cf").desc, col("sh")).limit(10))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val batch = graft.operators.TextOps.q268CountMinSketch(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(batch.nonEmpty && probed == batch,
        s"CMS counters double-counted under replay:\n probed=$probed\n batch=$batch")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("klDriftSink survives kill-and-resume with a crash-replayed " +
      "trigger: the KL report equals batch q194 over the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("klrestart").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.documents(spark, sfDir)
        .select("doc_id", "source", "text")
        .as[(Long, String, String)].collect()
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType)))
      crashResume(dir, schema, b1.toSeq, b2.toSeq,
        (s: Seq[(Long, String, String)]) => s.toDF("doc_id", "source", "text")) {
        (src, ckpt) => StreamOps.klDriftSink(src, statePath, reportPath)(ckpt)
      }
      val streamed = spark.read.parquet(reportPath)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val batch = graft.operators.TextOps.q194SourceKlDrift(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(batch.nonEmpty && streamed == batch,
        s"KL grid drifted under replay:\n stream=$streamed\n batch=$batch")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("histSink survives kill-and-resume with a crash-replayed trigger: " +
      "the quantile report equals batch q274 over the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("histrestart").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.documents(spark, sfDir)
        .select("lang", "n_chars").as[(String, Long)].collect()
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      val schema = StructType(Seq(StructField("lang", StringType),
        StructField("n_chars", LongType)))
      crashResume(dir, schema, b1.toSeq, b2.toSeq,
        (s: Seq[(String, Long)]) => s.toDF("lang", "n_chars")) {
        (src, ckpt) => StreamOps.histSink(src, statePath, reportPath)(ckpt)
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val streamed = spark.read.parquet(reportPath)
        .select("lang", "n_docs", "hist_p50", "hist_p90")
        .collect().map(key).toSet
      val batch = graft.operators.TextOps.q274HistogramQuantiles(spark, sfDir)
        .select("lang", "n_docs", "hist_p50", "hist_p90")
        .collect().map(key).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"histogram drifted under replay:\n stream=$streamed\n batch=$batch")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("anomalySink survives kill-and-resume with a crash-replayed " +
      "trigger: the report equals batch q257 over the same events") {
    val dir = java.nio.file.Files.createTempDirectory("anomrestart").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.events(spark, sfDir)
        .select(col("event_type"), col("ts"))
        .as[(String, Timestamp)].collect()
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      val schema = StructType(Seq(StructField("event_type", StringType),
        StructField("ts", TimestampType)))
      crashResume(dir, schema, b1.toSeq, b2.toSeq,
        (s: Seq[(String, Timestamp)]) => s.toDF("event_type", "ts")) {
        (src, ckpt) => StreamOps.anomalySink(src, statePath, reportPath)(ckpt)
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getBoolean(6))
      val streamed = spark.read.parquet(reportPath).collect().map(key).toSet
      val batch = graft.operators.Events.q257RollingAnomaly(spark, sfDir)
        .collect().map(key).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"anomaly report drifted under replay:\n stream=$streamed\n batch=$batch")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("passAtKSink survives kill-and-resume with a crash-replayed " +
      "trigger: the pass@k report equals batch q314 over the same attempts") {
    val dir = java.nio.file.Files.createTempDirectory("passkrestart").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.events(spark, sfDir)
        .select("event_id").as[Long].collect()
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      crashResume(dir, StructType(Seq(StructField("event_id", LongType))),
        b1.toSeq, b2.toSeq, (s: Seq[Long]) => s.toDF("event_id")) {
        (src, ckpt) => StreamOps.passAtKSink(src, statePath, reportPath)(ckpt)
      }
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4))
      val streamed = spark.read.parquet(reportPath).collect().map(key).toSet
      val batch = graft.operators.Events.q314PassAtK(spark, sfDir)
        .collect().map(key).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"pass@k drifted under replay:\n stream=$streamed\n batch=$batch")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("canaryGateSink under kill-and-resume: a crash-replayed trigger " +
      "re-appends clean rows only — no canary carrier ever lands, " +
      "duplicates stay dedupe-able by doc_id") {
    val dir = java.nio.file.Files.createTempDirectory("canaryrestart").toFile
    val cleanPath = new java.io.File(dir, "clean").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val canaries = graft.operators.TextOps.canarySet(
        graft.Tables.documents(spark, sfDir)
          .withColumn("toks", split(col("text"), " ")))
        .localCheckpoint()
      val all = graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text").as[(Long, String)].collect()
      val (b1, b2) = all.splitAt(all.length / 2)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      crashResume(dir, schema, b1.toSeq, b2.toSeq,
        (s: Seq[(Long, String)]) => s.toDF("doc_id", "text")) {
        (src, ckpt) =>
          StreamOps.canaryGateSink(src, canaries, cleanPath)(ckpt)
      }
      val kept = spark.read.parquet(cleanPath)
        .select("doc_id").as[Long].collect()
      val canaryList = canaries.collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val flagged = all.collect {
        case (id, text)
            if canaryList.exists { case (evalId, c) =>
              id != evalId &&
                text.split(" ").sliding(4).exists(_.mkString(" ") == c)
            } => id
      }.toSet
      // at-least-once: the replayed trigger may re-append b1's clean
      // rows (duplicates), but the SET equals batch truth and no
      // carrier leaks
      assert(kept.toSet == all.map(_._1).toSet -- flagged,
        s"leak or loss: extra=${kept.toSet.intersect(flagged)} " +
          s"missing=${all.map(_._1).toSet -- flagged -- kept.toSet}")
      assert(kept.length >= kept.distinct.length)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("a real state row with a NULL group key survives the guard " +
      "round-trip (round 16: explicit is_sentinel replaced the null-" +
      "first-column convention, which silently dropped such rows)") {
    val dir = java.nio.file.Files.createTempDirectory("nullkey").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    try {
      // two triggers, each carrying null-lang rows: under the old
      // convention trigger 2's stripGuard dropped trigger 1's null-lang
      // counts from state — a permanent, silent undercount
      val schema = StructType(Seq(StructField("lang", StringType),
        StructField("n_chars", LongType)))
      def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
      Seq((null: String, 10L), ("en", 20L), (null: String, 30L))
        .toDF("lang", "n_chars").write.mode("append").parquet(srcDir)
      val q1 = StreamOps.histSink(src(), statePath, reportPath)(ckpt)
      q1.processAllAvailable(); q1.stop()
      Seq((null: String, 40L), ("en", 50L))
        .toDF("lang", "n_chars").write.mode("append").parquet(srcDir)
      val q2 = StreamOps.histSink(src(), statePath, reportPath)(ckpt)
      q2.processAllAvailable(); q2.stop()
      val nullLangDocs = spark.read.parquet(statePath)
        .filter(!col("is_sentinel") && col("lang").isNull)
        .agg(sum(col("c"))).collect()(0).getLong(0)
      assert(nullLangDocs === 3L,
        s"null-lang rows lost in the state round-trip: kept $nullLangDocs of 3")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("pairing existing state with a FRESH checkpoint fails LOUDLY " +
      "(batch ids restart at 0 — a bare batch_id compare would silently " +
      "discard the first colliding batch)") {
    val dir = java.nio.file.Files.createTempDirectory("mispair").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val ckptA = new java.io.File(dir, "ckptA").getAbsolutePath
    val ckptB = new java.io.File(dir, "ckptB").getAbsolutePath
    try {
      val schema = StructType(Seq(StructField("event_type", StringType),
        StructField("ts", TimestampType)))
      def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
      Seq(("click", Timestamp.valueOf("2024-01-02 00:00:00")))
        .toDF("event_type", "ts").write.mode("append").parquet(srcDir)
      val q1 = StreamOps.anomalySink(src(), statePath, reportPath)(ckptA)
      q1.processAllAvailable(); q1.stop()
      // same state, FRESH checkpoint: its batch 0 collides with the
      // state's recorded batch_id 0 — must fail loudly, not skip the batch
      val q2 = StreamOps.anomalySink(src(), statePath, reportPath)(ckptB)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      q2.stop()
      val msg = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("mis-pairing"),
        s"mis-pairing guard message missing: ${e.getMessage}")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("cellOccupancySink survives kill-and-resume with a crash-replayed " +
      "trigger: the guard absorbs the replay and the final report " +
      "equals batch q338 over the full table") {
    val dir = java.nio.file.Files.createTempDirectory("cellocc").toFile
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val cents = graft.operators.VectorOps.coarseCentroids(spark, sfDir)
      val full = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val (b1, b2) = (full.filter(col("vec_id") % 2 === 0),
        full.filter(col("vec_id") % 2 =!= 0))
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
      b1.write.mode("append").parquet(srcDir)
      val q1 = StreamOps.cellOccupancySink(src(), cents, statePath,
        reportPath)(ckpt)
      q1.processAllAvailable(); q1.stop()
      // crash: state swapped, commit lost -> trigger 0 will replay
      dropLastCommit(ckpt)
      b2.write.mode("append").parquet(srcDir)
      val q2 = StreamOps.cellOccupancySink(src(), cents, statePath,
        reportPath)(ckpt)
      q2.processAllAvailable(); q2.stop()
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3), r.getLong(4))
      val streamed = spark.read.parquet(reportPath).collect().map(key).toSet
      val batch = graft.operators.VectorOps.q338IvfImbalance(spark, sfDir)
        .collect().map(key).toSet
      assert(streamed === batch,
        s"replay double-counted or lost vectors:\n stream=$streamed\n batch=$batch")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("indexAppendSink survives kill-and-resume with a crash-replayed " +
      "trigger: the index-as-claims anti-join absorbs the replay (zero " +
      "duplicate rows) and the final index equals the batch pqEncode " +
      "over the whole corpus") {
    val dir = java.nio.file.Files.createTempDirectory("idxappend").toFile
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val indexPath = new java.io.File(dir, "index").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    try {
      val sfDir = "/root/testdata/sf0.001"
      val cents = graft.operators.VectorOps.coarseCentroids(spark, sfDir)
      val cbs = graft.operators.VectorOps.pqCodebookRows(spark, sfDir,
        residual = false)
      val full = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
      full.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(srcDir)
      val q1 = StreamOps.indexAppendSink(src(), cents, cbs, indexPath)(ckpt)
      q1.processAllAvailable(); q1.stop()
      // crash: index rows appended, commit lost -> trigger 0 replays
      dropLastCommit(ckpt)
      full.filter(col("vec_id") % 2 =!= 0).write.mode("append").parquet(srcDir)
      val q2 = StreamOps.indexAppendSink(src(), cents, cbs, indexPath)(ckpt)
      q2.processAllAvailable(); q2.stop()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))
      val streamedRows = spark.read.parquet(indexPath)
        .select("vec_id", "cell", "m", "code").collect()
      val streamed = streamedRows.map(key).toSet
      val batch = graft.operators.VectorOps.pqEncode(
          graft.operators.VectorOps.assignCells(
            full.select(col("vec_id"),
              expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")),
            cents),
          graft.operators.VectorOps.codebookDf(spark, cbs))
        .select("vec_id", "cell", "m", "code").collect().map(key).toSet
      assert(streamedRows.length === batch.size,
        s"crash replay duplicated rows: ${streamedRows.length} appended " +
          s"vs ${batch.size} distinct")
      assert(streamed === batch,
        "streamed encode-append must equal the batch encode row set")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("the SAME checkpoint spelled differently across restarts (a '.' " +
      "path segment) resumes cleanly — the pairing guard compares " +
      "canonical paths, not raw strings") {
    // restart a sink under an alternate spelling of its checkpoint:
    // genuinely the same checkpoint, so the guard must NOT report a
    // mis-pairing
    def resumesUnderAltSpelling(schema: StructType, b1: DataFrame,
        b2: DataFrame)(
        start: (DataFrame, String, String, String) => StreamingQuery): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("ckptspell").toFile
      val statePath = new java.io.File(dir, "state").getAbsolutePath
      val reportPath = new java.io.File(dir, "report").getAbsolutePath
      val srcDir = new java.io.File(dir, "src").getAbsolutePath
      val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
      // same directory, non-canonical spelling: File canonicalizes both
      val ckptAlt = dir.getAbsolutePath + "/./ckpt"
      try {
        def src(): DataFrame = spark.readStream.schema(schema).parquet(srcDir)
        b1.write.mode("append").parquet(srcDir)
        val q1 = start(src(), statePath, reportPath, ckpt)
        q1.processAllAvailable(); q1.stop()
        b2.write.mode("append").parquet(srcDir)
        val q2 = start(src(), statePath, reportPath, ckptAlt)
        q2.processAllAvailable(); q2.stop()
        val n = spark.read.parquet(statePath)
          .filter(!col("is_sentinel")).count()
        assert(n >= 1, "resume under the alternate spelling must process")
      } finally graft.util.Fs.deleteRecursively(dir)
    }
    resumesUnderAltSpelling(
      StructType(Seq(StructField("event_type", StringType),
        StructField("ts", TimestampType))),
      Seq(("click", Timestamp.valueOf("2024-01-02 00:00:00")))
        .toDF("event_type", "ts"),
      Seq(("click", Timestamp.valueOf("2024-01-02 01:00:00")))
        .toDF("event_type", "ts")) {
      (src, state, report, ckpt) => StreamOps.anomalySink(src, state, report)(ckpt)
    }
    resumesUnderAltSpelling(
      StructType(Seq(StructField("term", StringType))),
      Seq("alpha", "beta", "alpha").toDF("term"),
      Seq("beta", "gamma").toDF("term")) {
      (src, state, report, ckpt) =>
        StreamOps.heavyHittersSink(src, state, report)(ckpt)
    }
  }

  test("heavyHittersSink survives kill-and-resume with a crash-replayed " +
      "trigger: the state's running total n equals the exact term count " +
      "and every counter stays within err of the truth") {
    val dir = java.nio.file.Files.createTempDirectory("hhrestart").toFile
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    try {
      val terms = graft.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .as[String].collect()
      val (b1, b2) = terms.splitAt(terms.length / 2)
      crashResume(dir, StructType(Seq(StructField("term", StringType))),
        b1.toSeq, b2.toSeq, (s: Seq[String]) => s.toDF("term")) {
        (src, ckpt) => StreamOps.heavyHittersSink(src, statePath, reportPath)(ckpt)
      }
      val state = spark.read.parquet(statePath)
      val ns = state.select("n").distinct().as[Long].collect().toSeq
      assert(ns == Seq(terms.length.toLong),
        s"replay double-counted or lost terms: n=$ns, exact ${terms.length}")
      val err = state.select("err").limit(1).as[Long].collect().head
      val exact = terms.groupBy(identity).view.mapValues(_.length.toLong).toMap
      state.filter(!col("is_sentinel")).select("term", "c")
        .as[(String, Long)].collect().foreach { case (term, c) =>
          val truth = exact.getOrElse(term, 0L)
          assert(c <= truth && truth <= c + err,
            s"$term c=$c truth=$truth err=$err")
        }
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("upsertSink survives kill-and-resume with a crash-replayed " +
      "trigger: the store equals last-write-wins over both batches") {
    val dir = java.nio.file.Files.createTempDirectory("upsertrestart").toFile
    val storePath = new java.io.File(dir, "store").getAbsolutePath
    try {
      // batch 2 overwrites ids 10..29 with a newer version, adds 20..29,
      // and carries a STALE version of id 5 that must not win
      val b1 = (0L until 20L).map(id => (id, 1L, s"b1-$id"))
      val b2 = (10L until 30L).map(id => (id, 2L, s"b2-$id")) :+ ((5L, 0L, "stale"))
      crashResume(dir, StructType(Seq(StructField("id", LongType),
          StructField("version", LongType), StructField("payload", StringType))),
        b1, b2, (s: Seq[(Long, Long, String)]) => s.toDF("id", "version", "payload")) {
        (src, ckpt) => StreamOps.upsertSink(src, storePath, "id", "version")(ckpt)
      }
      val store = spark.read.parquet(storePath)
        .select("id", "version", "payload").as[(Long, Long, String)].collect()
      val expected = (b1 ++ b2).groupBy(_._1).values.map(_.maxBy(_._2)).toSet
      assert(store.length == expected.size && store.toSet == expected,
        s"store is not last-write-wins: extra=${store.toSet -- expected} " +
          s"missing=${expected -- store.toSet}")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("a pre-guard state (no batch_id) fails LOUDLY on resume, not " +
      "silently: the stale-schema guard names the fix") {
    val dir = java.nio.file.Files.createTempDirectory("staleguard").toFile
    val srcDir = new java.io.File(dir, "src").getAbsolutePath
    val statePath = new java.io.File(dir, "state").getAbsolutePath
    val reportPath = new java.io.File(dir, "report").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    try {
      // a round-14-era state: (event_type, d, n) with no batch_id column
      Seq(("click", java.sql.Date.valueOf("2024-01-01"), 5L))
        .toDF("event_type", "d", "n")
        .write.parquet(statePath)
      Seq(("click", Timestamp.valueOf("2024-01-02 00:00:00")))
        .toDF("event_type", "ts").write.mode("append").parquet(srcDir)
      val schema = StructType(Seq(StructField("event_type", StringType),
        StructField("ts", TimestampType)))
      val q = StreamOps.decayedCountsSink(
        spark.readStream.schema(schema).parquet(srcDir),
        statePath, reportPath)(ckpt)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      q.stop()
      assert(e.getMessage.contains("batch_id") ||
        Option(e.getCause).exists(_.getMessage.contains("batch_id")),
        s"guard message missing: ${e.getMessage}")
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
