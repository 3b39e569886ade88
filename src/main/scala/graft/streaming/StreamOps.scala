package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import graft.util.Materialize

/** Structured Streaming operators (SURVEY.md §2.9 north star — the reference
  * has no true streaming; its incremental pulls are batch with a date
  * watermark, wikidata_index.py:156-171).
  *
  * The engine adds real event-time semantics: watermarked tumbling-window
  * aggregation and stateful sessionization via flatMapGroupsWithState. Batch
  * twins (Events.q29/q30) pin the same semantics against the DuckDB oracle;
  * the specs feed the same rows through MemoryStream and assert parity.
  */
object StreamOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              n_events: Long, duration_sec: Double)

  /** Watermarked hourly windowed counts — the streaming twin of q29. */
  def hourlyWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  private val gapMs = 30L * 60L * 1000L

  /** Stateful sessionization: 30-minute inactivity gap, processing-time
    * timeout closes idle sessions. Emits one row per closed session.
    *
    * State is one small struct per active user — the 100 TB posture is
    * bounded state via watermark-driven eviction (GroupStateTimeout), never
    * an unbounded buffer.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new Timestamp(s.start), s.nEvents,
              (s.lastSeen - s.start) / 1000.0))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(s.copy(lastSeen = math.max(s.lastSeen, t),
                    nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.start), s.nEvents,
                    (s.lastSeen - s.start) / 1000.0)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Replay the batch events table as a file-backed stream (one parquet
    * file = one micro-batch at test scale; at production scale this is a
    * kafka/file drop-in via readStream options).
    *
    * The on-disk files carry a raw `ts` column (epoch-nanos INT64 in older
    * generator runs, µs TIMESTAMP in newer ones) and no derived columns, so
    * the readStream schema must be the RAW file schema; ts_ns/ts are then
    * re-derived exactly as in [[graft.Tables.deriveEventTime]], which
    * normalizes either generation to the same two columns. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource needs a directory base path; events.parquet is a
    // single file at test scale, so stream the parent dir with a glob that
    // selects only the events table (the other tables never match).
    graft.Tables.deriveEventTime(
      spark.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Stream-stream interval join: attribute each purchase to a click by the
    * same user within the preceding hour. Watermarks on both sides bound
    * the join state (clicks retained only while a matching purchase could
    * still arrive) — the streaming twin of the as-of enrichment (q57). */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("click_id"), col("c_user").as("user_id"),
        col("value"))
  }

  /** Stream-stream LEFT OUTER interval join — [[clickToPurchase]] plus
    * the semantics an outer join adds under streaming: a click with no
    * purchase in its hour emits a NULL-extended row, but only once the
    * watermark proves no matching purchase can still arrive (state
    * expiry IS the null-emission trigger — there is no other sound
    * moment). Both sides carry the same 2-hour watermark, so click state
    * is held exactly [join range + lateness] and the unmatched row's
    * latency is bounded by the watermark delay. The batch twin of the
    * matched+unmatched union is a plain left join (parity spec). */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("click_id"), col("c_user").as("user_id"),
        col("purchase_id"), col("value"))
  }

  /** Windowed distinct-user KMV sketch — the streaming face of the batch
    * estimator (q64): the BottomK aggregator's bounded mergeable buffer
    * rides the streaming state store like any partial aggregate, so
    * per-window distinct estimation costs k hashes of state per window
    * regardless of traffic. Below k distinct values the estimate is exact;
    * above, (k-1)/R_k. */
  def hourlyDistinctUsers(events: DataFrame, k: Int = 64): DataFrame = {
    val lows = graft.functions.BottomK.bottomK(
      md5(col("user_id").cast("string")), k)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(lows.as("lows"))
      .select(col("window.start").as("hour_start"),
        graft.functions.BottomK.kmvEstimate(col("lows"), k).as("est_users"))
  }

  /** Streaming exact dedup — the streaming face of q33's content-key
    * dedup: the first-arrived document per key is admitted, every later
    * copy is dropped. State is ONE row per distinct key seen inside the
    * watermark horizon (`dropDuplicatesWithinWatermark` — the
    * RocksDB-backed state store holds the key set; event-time eviction
    * bounds it, so a perpetual stream never accumulates unbounded keys).
    * The horizon is the semantic knob: duplicates arriving farther apart
    * than the watermark re-admit — exactly the crawl-recrawl window a
    * production ingest chooses; full-history exactness is the batch
    * q33/q141 job's business. */
  def dedupStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("dup_key",
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("dup_key")

  /** Streaming twin of the q176 hash-stratified sampler: the keep
    * decision is a stateless codegen'd predicate (md5 bucket of the id vs
    * a per-source rate), so it needs NO watermark, NO state store, and
    * admits a doc identically whether it arrives in a batch rebuild or on
    * the live stream — the exact-same-sample property that lets a corpus
    * mixer run one config against both paths. `rates` maps source →
    * percentage; unlisted sources use `defaultRate`. */
  def stratifiedSampleStream(docs: DataFrame, rates: Map[String, Int],
                             defaultRate: Int = 5): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(r)).otherwise(acc)
    }
    docs.filter(bucket < rate)
  }

  /** Stream-static enrichment join: every micro-batch left-joins the static
    * dimension table (the streaming twin of the label-service / propagation
    * joins). The static side is broadcast per micro-batch — at 100 TB the
    * stream side never shuffles for dimension joins; a huge dimension
    * degrades gracefully to a shuffle join per batch. */
  def enrichWithDimension(events: DataFrame, dim: DataFrame,
                          key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left_outer")

  /** The one `foreachBatch` skeleton every sink below is built on: a
    * `writeStream` checkpointed at `checkpoint` in `mode`, whose trigger
    * body runs in its own [[Materialize.scoped]] scope. Every frame a
    * trigger persists or checkpoints through [[Materialize]] is released
    * when the trigger ends — the rule [[graft.util.Watchdog.run]] applies
    * to a query — so a long-running stream accumulates no cached blocks.
    * Frames a sink builds at construction (a model, a filter, a canary
    * set) live across triggers and are created outside this scope. */
  private def foreachTrigger(in: DataFrame, checkpoint: String,
                             mode: OutputMode = OutputMode.Append())(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(mode)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Materialize.scoped(body(batch, batchId))
      }
      .start()

  /** K1 streaming form: per-micro-batch upsert into a keyed parquet store —
    * last write wins per id within the batch, then an idempotent merge
    * against the store, swapped in with [[atomicOverwrite]] (the streaming
    * twin of [[graft.sinks.Sinks.upsertDedup]]; a table format with MERGE
    * replaces the read-union-rewrite at production scale). */
  def upsertSink(events: DataFrame, storePath: String,
                 idCol: String, versionCol: String)
                (checkpoint: String): StreamingQuery =
    foreachTrigger(events, checkpoint, OutputMode.Update()) { (batch, _) =>
      val newRows = graft.sinks.Sinks.upsertDedup(batch, idCol, versionCol)
      atomicOverwrite(readState(batch.sparkSession, storePath)
          .map(store => graft.sinks.Sinks.upsertDedup(
            newRows.unionByName(store), idCol, versionCol))
          .getOrElse(newRows),
        storePath)
    }

  /** Streaming CDC-chunk admission — [[nearDupAdmitSink]] at
    * SUB-document granularity: each micro-batch chunks its docs with
    * q195's content-defined chunker (insertion-robust md5 rolling
    * boundaries), REJECTS any doc sharing at least `minShared`
    * DISTINCT chunk hashes with the persistent chunk-claims index, and
    * admitted docs claim their chunks. This catches a doc that embeds
    * an already-seen passage even when every doc-level key (q33
    * content key, q34 band buckets) differs — the whole point of
    * content-defined boundaries is that the embedded copy re-aligns.
    * Same at-least-once discipline as nearDupAdmitSink: admitted rows
    * write BEFORE claims, so a crash replay re-admits rather than
    * silently losing docs. */
  def cdcAdmitSink(docs: DataFrame, claimsPath: String,
                   admittedPath: String, minShared: Int = 1)
                  (checkpoint: String): StreamingQuery =
    foreachTrigger(docs, checkpoint) { (batch, _) =>
      val chunks = Materialize.persist(graft.operators.TextOps.cdcChunks(
          batch.withColumn("toks", split(col("text"), " "))
            .select(col("doc_id"), col("toks")))
        .select(col("doc_id"), md5(col("chunk")).as("chash"))
        .distinct())
      val rejected = readState(batch.sparkSession, claimsPath)
        .map(claims => chunks.join(claims.select(col("chash")).distinct(),
            Seq("chash"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("nshared"))
          .filter(col("nshared") >= minShared)
          .select(col("doc_id")))
        .getOrElse(chunks.select(col("doc_id")).limit(0))
      val admitted = Materialize.localCheckpoint(
        batch.join(rejected, Seq("doc_id"), "left_anti"))
      admitted.write.mode("append").parquet(admittedPath)
      chunks.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(claimsPath)
    }

  /** Streaming decontamination sink — q201's Bloom scale path applied
    * per micro-batch against a STATIC eval suite: each batch's 5-grams
    * probe the broadcast ≤2048-word Bloom filter, only survivors reach
    * the exact join against the eval gram set, and docs with ≥1 exact
    * hit are dropped; clean docs append to `cleanPath`. Both static
    * artifacts (Bloom words + gram set) are precomputed ONCE — per
    * trigger the corpus-sized side is only the micro-batch. Filtering
    * is idempotent, so crash replay at-least-once re-appends the same
    * clean rows at worst (duplicate rows, never contaminated ones). */
  def decontaminateSink(docs: DataFrame, evalGrams: DataFrame,
                        cleanPath: String)
                       (checkpoint: String): StreamingQuery = {
    val bloom = Materialize.localCheckpoint(
      graft.operators.TextOps.bloomWordsOf(evalGrams))
    foreachTrigger(docs, checkpoint) { (batch, _) =>
      val grams = batch
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          explode(expr(graft.operators.TextOps.fiveGrams)).as("g"))
        .distinct()
      val hits = graft.operators.TextOps.bloomCandidates(grams, bloom)
        .join(broadcast(evalGrams), Seq("g"))
        .select(col("doc_id")).distinct()
      batch.join(hits, Seq("doc_id"), "left_anti")
        .write.mode("append").parquet(cleanPath)
    }
  }

  /** Streaming model-based admit — the apply half of the NB distillation
    * (q247 trains, q248 scores) as a stream gate, the shape a crawl
    * pipeline actually deploys the cheap model in: each micro-batch
    * scores its docs against the BROADCAST token-weight model (one
    * explode + broadcast join + per-doc LONG sum — integer fixed-point
    * weights, so admit decisions are bit-identical to the batch scorer
    * regardless of micro-batch boundaries) and appends admitted docs to
    * `acceptPath`. STATELESS by design: the model is plan-side constant
    * data, per-trigger cost is batch-sized, and replay is safe (a
    * re-scored doc admits identically — idempotent append semantics up
    * to duplicate rows, the upsertSink concern, not this gate's). A doc
    * with NO in-vocabulary token is rejected (it never reaches the
    * scorer — q248's inner-join semantics). */
  def nbFilterSink(docs: DataFrame, model: DataFrame, biasMicro: Long,
                   acceptPath: String)
                  (checkpoint: String): StreamingQuery = {
    val m = Materialize.localCheckpoint(
      model.select(col("token"), col("w_micro")))
    foreachTrigger(docs, checkpoint) { (batch, _) =>
      val admitted = batch
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .join(broadcast(m), Seq("token"))
        .groupBy(col("doc_id"))
        .agg(sum(col("w_micro")).as("sw"))
        .filter(col("sw") + biasMicro > 0)
        .select(col("doc_id"))
      batch.join(admitted, Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(acceptPath)
    }
  }

  /** Reads persisted sink state (or a claims store), falling back to the
    * `.old` sibling when a crash during [[atomicOverwrite]] left the swap
    * half-done (live dir renamed aside, replacement not yet swapped in).
    * Recovering the OLD state is always safe: foreachBatch replays the
    * interrupted trigger, so the merge that was lost simply re-runs.
    * Existence is probed through the filesystem layer the reads and
    * writes use — a `java.io.File` check would answer "absent" for every
    * hdfs:// or s3a:// store. */
  private def readState(spark: SparkSession, path: String): Option[DataFrame] = {
    val target = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) Some(spark.read.parquet(path))
    else if (fs.exists(old)) Some(spark.read.parquet(path + ".old"))
    else None
  }

  /** Crash-safe state overwrite: write the replacement to a `.tmp`
    * sibling, rename the live dir aside, swap the tmp in, drop the old
    * copy. A plain `mode("overwrite")` deletes the live state BEFORE the
    * new files commit, so a crash mid-write loses the state entirely;
    * with the swap, every crash point leaves either the old or the new
    * state readable ([[readState]] falls back to `.old`). */
  private def atomicOverwrite(df: DataFrame, path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    val fs = target.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(tmp.toString)
    // Delete the stale `.old` ONLY when a live target exists to replace
    // it: after a crash recovered via the `.old` fallback (target absent,
    // `.old` the only live copy), deleting `.old` before the tmp→target
    // rename lands would leave a crash window with NEITHER copy readable
    // — permanent state loss. With the guard, every crash point leaves
    // old or new readable. Rename results are asserted: a silent rename
    // failure would strand the new state in `.tmp`.
    if (fs.exists(target)) {
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(target, old), s"rename $target -> $old failed")
    }
    require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    fs.delete(old, true)
    ()
  }

  /** Canonical form of a checkpoint path for the mis-pairing compare:
    * the SAME checkpoint spelled differently across restarts (relative
    * vs absolute, trailing slash, a symlinked tmp dir) must not fail
    * the pairing guard with a misleading "mis-pairing" error — both
    * the stored and the running spelling canonicalize before writing
    * and before comparing. Paths a java.io.File cannot canonicalize
    * (exotic URI schemes) fall back to the raw string — for those,
    * callers must pass a stable spelling. */
  private def canonCkpt(p: String): String =
    try new java.io.File(p).getCanonicalPath
    catch { case _: Exception => p }

  /** Replay guard for sinks whose state merge is a non-idempotent SUM.
    * foreachBatch is at-least-once: after a crash between the state swap
    * and the checkpoint commit, the trigger REPLAYS with the same
    * batchId, and a bare sum-merge double-counts its batch (hll's
    * max-merge and the reservoir's dedup-merge shrug that off; sums
    * cannot). State rows carry the writing trigger's batch_id, the
    * owning CHECKPOINT path (the run id — batch ids restart at 0 under a
    * fresh checkpoint, so a bare batch_id compare against mis-paired
    * state would silently discard the first colliding batch; the path
    * compare turns that into a loud failure), and an explicit
    * `is_sentinel` flag plus one sentinel row so an empty merge still
    * records the guard — one file, one atomic swap (a separate _meta
    * sibling would reopen a crash window where new state pairs with
    * stale meta). The explicit flag, rather than a null first column,
    * marks the sentinel, so a real row whose GROUP KEY is genuinely null
    * (a null lang reaching histSink, a null source reaching klDriftSink)
    * survives the state round-trip.
    *
    * Returns the batch id that wrote `st`; fails loudly on state written
    * before this schema or by another checkpoint. */
  private def stateBatchId(st: DataFrame, checkpoint: String): Long = {
    // loud guards, not silent crashes on missing columns: state written
    // before the replay-guard schema cannot prove which trigger wrote it
    require(st.columns.contains("batch_id"),
      "sink state predates the batch_id replay-guard schema (data rows " +
        "+ an all-null sentinel, every row carrying batch_id); delete " +
        "the state directory to restart the stream cleanly")
    require(st.columns.contains("is_sentinel") && st.columns.contains("ckpt"),
      "sink state predates the explicit-sentinel guard schema (every " +
        "row carrying is_sentinel + the owning checkpoint path); delete " +
        "the state directory to restart the stream cleanly")
    val r = st.select(col("batch_id"), col("ckpt")).limit(1).collect()(0)
    require(canonCkpt(r.getString(1)) == canonCkpt(checkpoint),
      s"state/checkpoint mis-pairing: this state was written by a " +
        s"stream checkpointed at '${r.getString(1)}' but the running " +
        s"stream checkpoints at '$checkpoint' — a fresh checkpoint " +
        "restarts batch ids at 0, so resuming would silently mis-replay; " +
        "reuse the original checkpoint or delete the state directory")
    r.getLong(0)
  }
  private def stripGuard(st: DataFrame): DataFrame =
    st.filter(!col("is_sentinel")).drop("batch_id", "is_sentinel", "ckpt")
  /** `data` tagged with the guard columns, plus the sentinel row: all
    * data columns null unless `sentinelData` gives their leading values. */
  private def withGuard(data: DataFrame, batchId: Long, checkpoint: String,
                        sentinelData: Seq[Any] = Nil): DataFrame = {
    val spark = data.sparkSession
    val ckptCanon = canonCkpt(checkpoint)
    val tagged = data.withColumn("batch_id", lit(batchId))
      .withColumn("is_sentinel", lit(false))
      .withColumn("ckpt", lit(ckptCanon))
    val schema = org.apache.spark.sql.types.StructType(
      tagged.schema.map(_.copy(nullable = true)))
    val sentinel = spark.createDataFrame(
      java.util.Collections.singletonList(
        Row.fromSeq(
          sentinelData.padTo(data.schema.length, null) :+ Long.box(batchId) :+
            Boolean.box(true) :+ ckptCanon)),
      schema)
    tagged.unionByName(sentinel)
  }

  /** The replay-guarded sum-merge the sum-merge sinks share. Reads the
    * state at `statePath`; when [[stateBatchId]] shows this trigger's
    * batch is already folded in (a crash-replayed trigger) it returns the
    * stored state and never computes `partial`. Otherwise it sum-merges
    * `partial` into the state by `keys` (every other column is summed),
    * swaps the guarded result in with [[atomicOverwrite]], and returns
    * the merged state, checkpointed so the sink's report does not read
    * the path just replaced. Returned frames carry no guard columns. */
  private def guardedSumMerge(spark: SparkSession, statePath: String,
                              checkpoint: String, batchId: Long,
                              keys: String*)(partial: => DataFrame): DataFrame = {
    val stateOpt = readState(spark, statePath)
    stateOpt.filter(stateBatchId(_, checkpoint) == batchId) match {
      case Some(st) => stripGuard(st)
      case None =>
        val p = partial
        val sums = p.columns.toSeq.filterNot(keys.contains)
          .map(c => sum(col(c)).as(c))
        val merged = Materialize.localCheckpoint(stateOpt
          .map(st => stripGuard(st).unionByName(p)
            .groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*))
          .getOrElse(p))
        atomicOverwrite(withGuard(merged, batchId, checkpoint), statePath)
        merged
    }
  }

  /** Streaming WEIGHTED reservoir — Efraimidis–Spirakis Algorithm A-Res,
    * the streaming face of q300: every arriving doc gets the same
    * deterministic E–S key (quantized ln(u) from the md5 hex prefix,
    * divided once by the integer quality weight), and the reservoir is
    * simply THE k LARGEST KEYS SEEN — so each micro-batch unions its
    * keyed docs with the persisted k-row state and keeps the top k.
    * The merge is associative and commutative, and the per-doc E–S key
    * is deterministic, so a dropDuplicates on doc_id after the union
    * makes the merge idempotent too (max-k of a SET): a crash-replayed
    * micro-batch (foreachBatch is at-least-once) re-contributes rows
    * identical to ones already in state, the dedup collapses them, and
    * no legitimate member is evicted by its own echo — the hllSink
    * replay-safety argument, applied to sampling.
    * State is k rows; per-trigger cost is batch + k. After
    * the last row the reservoir EQUALS the batch q300 over the same
    * corpus (parity spec) — the property uniform reservoirs lack under
    * weights and the reason A-Res exists. */
  def weightedReservoirSink(docs: DataFrame, k: Int, statePath: String)
                           (checkpoint: String): StreamingQuery =
    foreachTrigger(docs, checkpoint) { (batch, _) =>
      val toks = split(col("text"), " ")
      val nToks = size(toks).cast("long")
      val nStop = expr(
        "size(filter(split(text, ' '), t -> t IN ('the','a','of','and')))")
        .cast("long")
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("double") + 1.0) / lit(4294967297.0)
      val keyed = batch
        .withColumn("quality", round(least(lit(1.0), nToks / 100.0) *
          (lit(1.0) - nStop / nToks), 4))
        .filter(col("quality") > 0)
        .withColumn("lnu_micro", round(log(u) * 1e6).cast("long"))
        .withColumn("w4", round(col("quality") * 1e4).cast("long"))
        .withColumn("es_key",
          col("lnu_micro").cast("double") / col("w4"))
        .select(col("doc_id"), col("quality"), col("es_key"))
      // checkpointed: cut lineage from the path being replaced
      val merged = Materialize.localCheckpoint(
        readState(batch.sparkSession, statePath).map(_.unionByName(keyed))
          .getOrElse(keyed)
          // replayed docs carry the identical deterministic es_key —
          // dedup before the top-k so an echo can't hold two slots
          .dropDuplicates("doc_id")
          .orderBy(col("es_key").desc, col("doc_id").asc).limit(k))
      atomicOverwrite(merged, statePath)
    }

  /** Streaming twin of q194's per-source KL drift monitor: drift is
    * intrinsically a per-snapshot concern — each micro-batch folds its
    * (source, bucket) hashed-unigram partials into a RUNNING count state
    * (plain addition, which is why the monitor streams: the grid-sized
    * KL tail recomputes from totals, never from raw tokens) and
    * refreshes the per-source KL report. Per-trigger work is
    * batch-tokens + the |sources|×256 grid; the corpus never replays.
    * State and report are parquet artifacts so a dashboard (or the next
    * pipeline stage's mixing decision) reads the current snapshot
    * without touching the stream. */
  def klDriftSink(docs: DataFrame, statePath: String, reportPath: String)
                 (checkpoint: String): StreamingQuery =
    foreachTrigger(docs, checkpoint) { (batch, batchId) =>
      val merged = guardedSumMerge(batch.sparkSession, statePath, checkpoint,
          batchId, "source", "bucket") {
        graft.operators.TextOps.klCountPartials(
          batch.withColumn("toks", split(col("text"), " "))
            .select(col("source"), col("toks")))
      }
      graft.operators.TextOps.klFromCounts(
          merged.select(col("source")).distinct(), merged)
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Streaming HLL cardinality monitor — the streaming face of q267.
    * Per trigger: the batch's (lang, bucket, max-rho) register partials
    * MAX-merge into the persistent register table (HLL's defining
    * property — the same merge unions sketches across days, shards, or
    * datacenters), then the report re-derives the estimate from the
    * ≤ groups×256-row state. Per-trigger cost is batch-sized plus the
    * register table; the raw stream never replays, and the report after
    * the last trigger equals the batch q267 over the same rows (parity
    * spec), because max is associative, commutative, and idempotent —
    * replayed micro-batches cannot corrupt the state. */
  def hllSink(docs: DataFrame, statePath: String, reportPath: String)
             (checkpoint: String): StreamingQuery =
    foreachTrigger(docs, checkpoint) { (batch, _) =>
      val regs = graft.operators.TextOps.hllRegisters(batch)
      val merged = Materialize.localCheckpoint(
        readState(batch.sparkSession, statePath)
          .map(_.unionByName(regs)
            .groupBy(col("lang"), col("bucket"))
            .agg(max(col("reg")).as("reg")))
          .getOrElse(regs))
      atomicOverwrite(merged, statePath)
      graft.operators.TextOps.hllReport(merged)
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Streaming Count-Min sketch — the streaming face of q268. CMS is
    * LINEAR, so per-batch counter tables SUM-merge into exactly the
    * counters the batch job would build over the union of all batches;
    * state is the fixed 4×1024 grid regardless of stream age or key
    * cardinality. The report is the counter table itself — point
    * estimates come from [[graft.operators.TextOps.cmsProbe]] against
    * the state, so any consumer can ask about any term after the fact
    * (the heavy-hitters sink answers "what is frequent"; this one
    * answers "how frequent is X"). Unlike [[hllSink]]'s max-merge, sum
    * is NOT idempotent, so the state carries the batch_id replay guard
    * (without it a crash-replayed trigger double-counts its batch; the
    * CMS estimates stay valid one-sided upper bounds, but they loosen
    * silently). */
  def cmsSink(docs: DataFrame, statePath: String)
             (checkpoint: String): StreamingQuery =
    foreachTrigger(docs, checkpoint) { (batch, batchId) =>
      guardedSumMerge(batch.sparkSession, statePath, checkpoint, batchId,
          "row", "idx") {
        graft.operators.TextOps.cmsCounters(
          graft.operators.TextOps.cmsTf(batch.select(col("text"))))
      }
      ()
    }

  /** Streaming histogram-quantile monitor — the streaming face of q274,
    * completing the sketch-trio parity story (hllSink = cardinality,
    * cmsSink = frequency, this = quantiles). Per trigger the batch's
    * (lang, bin) counts SUM-merge into the persistent fixed-width
    * histogram and the quantile report re-derives from the ≤ groups×256
    * state — the length-drift dashboard a corpus ingest watches without
    * ever sorting or replaying the stream. */
  def histSink(docs: DataFrame, statePath: String, reportPath: String)
              (checkpoint: String): StreamingQuery =
    foreachTrigger(docs, checkpoint) { (batch, batchId) =>
      val merged = guardedSumMerge(batch.sparkSession, statePath, checkpoint,
          batchId, "lang", "bin") {
        graft.operators.TextOps.histCounts(batch)
      }
      graft.operators.TextOps.histQuantiles(merged)
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Streaming IVF cell-occupancy monitor — the streaming face of the
    * q337/q338 index-health reports: an incremental ingest assigns
    * each arriving vector to its TRAINED cell (the zero-shuffle
    * literal-argmax plan over the frozen quantizer artifact —
    * retraining is the offline q186/q68 refresh loop's job, never a
    * trigger's) and SUM-merges per-cell counts into the guarded state;
    * each trigger the report re-derives q338's go/no-go row (k, n,
    * imbalance, max_occ, n_over_cap) from the ≤k-row state. Sum-merge
    * is non-idempotent, so state carries the batch_id replay guard.
    * n_over_cap flipping positive is the re-shard signal — the
    * q320/q332 diversion absorbs the hub in-query meanwhile. */
  def cellOccupancySink(vectors: DataFrame,
                        cents: Array[(Long, Seq[Double])],
                        statePath: String, reportPath: String)
                       (checkpoint: String): StreamingQuery =
    foreachTrigger(vectors, checkpoint) { (batch, batchId) =>
      val merged = guardedSumMerge(batch.sparkSession, statePath, checkpoint,
          batchId, "cell") {
        graft.operators.VectorOps.assignCells(
            batch.select(col("vec_id"),
              expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")),
            cents)
          .groupBy(col("cell")).agg(count(lit(1)).as("n_c"))
      }
      merged
        .agg(count(lit(1)).as("k"),
          sum(col("n_c")).as("n"),
          sum(col("n_c") * col("n_c")).as("s2"),
          max(col("n_c")).as("max_occ"),
          sum(when(col("n_c") > graft.operators.VectorOps.IvfCellCap, 1L)
            .otherwise(0L)).as("n_over_cap"))
        .select(col("k"), col("n"),
          round(col("k").cast("double") * col("s2").cast("double") /
            (col("n").cast("double") * col("n").cast("double")), 6)
            .as("imbalance"),
          col("max_occ"), col("n_over_cap"))
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Streaming INDEX MAINTENANCE — the encode-append half the
    * cellOccupancySink monitor implies: each arriving vector is
    * assigned to its TRAINED cell and PQ-ENCODED against the PERSISTED
    * codebooks (both loaded once from the [[graft.operators.IvfIndex]]
    * artifact at sink construction — the frozen-index contract;
    * retraining is the offline refresh loop's job, never a trigger's),
    * and the (vec_id, cell, m, code) rows APPEND to the serving index.
    * Batch searches (q193's ADC path) read the result directly.
    *
    * Idempotency: encoding is deterministic under a frozen index, so
    * the index itself is the claims table — each trigger anti-joins the
    * batch's codes against the vec_ids already present and appends only
    * the missing rows. A crash-replayed micro-batch (at-least-once
    * foreachBatch) re-encodes bit-identical rows, the anti-join drops
    * them all, and the append is empty — no batch_id state to guard, no
    * crash window between data append and claim append (they are the
    * same write). Per-trigger cost: batch-sized encode + one
    * column-pruned vec_id scan of the index (production partitions the
    * index by ingest epoch so the scan prunes to recent epochs). */
  def indexAppendSink(vectors: DataFrame,
                      cents: Array[(Long, Seq[Double])],
                      cbs: Array[(Int, Long, Seq[Double])],
                      indexPath: String)
                     (checkpoint: String): StreamingQuery =
    foreachTrigger(vectors, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val assigned = graft.operators.VectorOps.assignCells(
        batch.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")),
        cents)
      val codes = graft.operators.VectorOps.pqEncode(assigned,
        graft.operators.VectorOps.codebookDf(spark, cbs))
      val fresh = readState(spark, indexPath)
        .map(index => codes.join(index.select(col("vec_id")).distinct(),
          Seq("vec_id"), "left_anti"))
        .getOrElse(codes)
      // materialize BEFORE the append: the plan reads the same path it
      // is about to write
      Materialize.localCheckpoint(fresh).write.mode("append").parquet(indexPath)
    }

  /** Streaming decayed-counter monitor — the streaming face of q283.
    * State is the (event_type, day) daily-count table (decay depends
    * only on the day, so daily counts are a LOSSLESS compression of the
    * event stream for this operator); per trigger the batch's partials
    * sum-merge in and the report re-derives with the shared integer
    * decay table, re-anchoring automatically as newer days arrive —
    * the production property that a decayed counter never replays
    * history to move its reference point. */
  def decayedCountsSink(events: DataFrame, statePath: String,
                        reportPath: String)
                       (checkpoint: String): StreamingQuery =
    foreachTrigger(events, checkpoint) { (batch, batchId) =>
      val merged = guardedSumMerge(batch.sparkSession, statePath, checkpoint,
          batchId, "event_type", "d") {
        graft.operators.Events.decayDailyCounts(batch)
      }
      graft.operators.Events.decayedFromDaily(merged)
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Streaming twin of q257's rolling volume anomaly: per trigger the
    * batch's (event_type, day) partial counts merge into a persistent
    * daily-counts state table (idempotent sum-merge, the klDriftSink
    * convention), and the integer 3σ window re-evaluates over the state
    * — days per type, census-sized, so the per-trigger cost is
    * batch-sized plus the days table regardless of stream age. The
    * report after the last trigger is IDENTICAL to the batch q257 over
    * the same events (parity spec), because counts merge associatively
    * and the anomaly test reads only the merged counts. */
  def anomalySink(events: DataFrame, statePath: String, reportPath: String)
                 (checkpoint: String): StreamingQuery =
    foreachTrigger(events, checkpoint) { (batch, batchId) =>
      val merged = guardedSumMerge(batch.sparkSession, statePath, checkpoint,
          batchId, "event_type", "day") {
        graft.operators.Events.dailyCounts(batch)
      }
      graft.operators.Events.rollingAnomaly(merged)
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Streaming twin of q228's heavy hitters: the state is a MERGED
    * Misra–Gries summary (≤ k counters) plus the exact running total and
    * the accumulated decrement mass — the mergeable-summaries form
    * (Agarwal et al., PODS'12): each trigger sums the batch's exact
    * term counts into the stored counters, subtracts the (k+1)-th
    * largest value t from every counter, and drops ≤0. Counters only
    * ever undercount, by at most the accumulated `err`, so two exact
    * reports fall out of the state without any corpus replay:
    * `guaranteed` (c > n/k — state count already proves heaviness) and
    * `candidates` (c + err > n/k — a superset of every true heavy
    * hitter, the set a periodic exact pass would re-count). Per-trigger
    * work is batch-sized + the k-row state; the (k+1)-th-largest read
    * is a census-sized driver action, same class as the closure
    * convergence reads. */
  def heavyHittersSink(tokens: DataFrame, statePath: String,
                       reportPath: String, k: Int = 50)
                      (checkpoint: String): StreamingQuery =
    foreachTrigger(tokens, checkpoint) { (batch, batchId) =>
      // n / err ride IN the guarded state parquet (repeated per row, and
      // on the sentinel row, so an empty counter set still carries
      // them): one file, one atomic swap. The trim makes this merge
      // more than a sum, but it is as non-idempotent as one, so a
      // replayed trigger is detected through the shared stateBatchId.
      def report(counters: DataFrame, n: Long, err: Long): Unit =
        counters
          .withColumn("guaranteed", col("c") > lit(n.toDouble / k))
          .filter(col("c") + err > lit(n.toDouble / k))
          .write.mode("overwrite").parquet(reportPath)
      val stateOpt = readState(batch.sparkSession, statePath)
      val replayed = stateOpt.exists(stateBatchId(_, checkpoint) == batchId)
      val (prevN, prevErr) = stateOpt.map { st =>
        val m = st.select(col("n"), col("err")).limit(1).collect()(0)
        (m.getLong(0), m.getLong(1))
      }.getOrElse((0L, 0L))
      def counters(st: DataFrame): DataFrame =
        stripGuard(st).select(col("term"), col("c"))
      if (replayed) {
        // crash-replayed trigger: its counts are already folded into
        // the (atomically swapped) state — regenerate the report only
        report(counters(stateOpt.get), prevN, prevErr)
      } else {
        val bc = batch.groupBy(col("term")).agg(count(lit(1)).as("c"))
        val bn = batch.count()
        val prev = stateOpt.map(counters).getOrElse(bc.limit(0))
        // checkpointed: also cuts lineage from the state file
        val summed = Materialize.localCheckpoint(
          prev.unionByName(bc).groupBy(col("term")).agg(sum(col("c")).as("c")))
        // (k+1)-th largest counter = the decrement that trims back to k
        val top = summed.orderBy(col("c").desc, col("term"))
          .limit(k + 1).collect()
        val t = if (top.length > k) top.last.getLong(1) else 0L
        val n = prevN + bn
        val err = prevErr + t
        val trimmed = Materialize.localCheckpoint(
          summed.select(col("term"), (col("c") - t).as("c")).filter(col("c") > 0))
        atomicOverwrite(withGuard(
            trimmed.withColumn("n", lit(n)).withColumn("err", lit(err)),
            batchId, checkpoint, sentinelData = Seq(null, 0L, n, err)),
          statePath)
        report(trimmed, n, err)
      }
    }

  /** Streaming twin of q314's pass@k — the LIVE eval dashboard: attempt
    * results arrive as they are judged, the state is the per-problem
    * (n, c) count table (two longs per problem, the estimator's complete
    * sufficient statistic — the raw attempt stream never replays), each
    * trigger sum-merges its batch partials under the shared batch_id
    * replay guard, and the report re-derives pass@1/pass@10 through the
    * SAME ten-factor product as the batch query (one definition,
    * [[graft.operators.Events.passAtKReport]]). Per-trigger cost is
    * batch + |problems|. */
  def passAtKSink(events: DataFrame, statePath: String, reportPath: String)
                 (checkpoint: String): StreamingQuery =
    foreachTrigger(events, checkpoint) { (batch, batchId) =>
      val merged = guardedSumMerge(batch.sparkSession, statePath, checkpoint,
          batchId, "problem") {
        graft.operators.Events.passCounts(batch)
      }
      graft.operators.Events.passAtKReport(merged)
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Streaming twin of q305's Bradley–Terry preference aggregation:
    * pairwise verdicts (sa, sb, winner) arrive as they are judged — the
    * live RLHF/eval shape — and the state is the unordered-pair matrix
    * (i, j, nij, wi), the fit's complete sufficient statistic: each
    * trigger sums the batch's pair counts into it under the batch_id
    * replay guard (the sum merge is not idempotent by algebra) and
    * re-runs the 3-iteration MM fit on the |sources|²-bounded matrix
    * into the report. Per-trigger cost is batch + pair-matrix; the fit
    * never touches the verdict history. */
  def preferenceSink(comparisons: DataFrame, statePath: String,
                     reportPath: String)
                    (checkpoint: String): StreamingQuery =
    foreachTrigger(comparisons, checkpoint) { (batch, batchId) =>
      val merged = guardedSumMerge(batch.sparkSession, statePath, checkpoint,
          batchId, "i", "j") {
        batch
          .filter(col("sa") =!= col("sb"))
          .select(least(col("sa"), col("sb")).as("i"),
            greatest(col("sa"), col("sb")).as("j"), col("winner"))
          .groupBy(col("i"), col("j"))
          .agg(count(lit(1)).as("nij"),
            sum(when(col("winner") === col("i"), 1L).otherwise(0L))
              .as("wi"))
      }
      graft.operators.TextOps.bradleyTerryFit(merged)
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Streaming WARC ingestion: crawl segments land → response records
    * extract → append to the corpus parquet, idempotently. A claims
    * file records ingested WARC-Record-IDs and each micro-batch
    * anti-joins against it, so a crash-replayed batch (foreachBatch is
    * at-least-once) re-appends nothing whose claim landed — effectively
    * exactly-once at record granularity. Write order is corpus-first,
    * claims-second (the cdcAdmitSink discipline): a crash between the
    * two can duplicate a corpus row on replay but never LOSE one, and
    * the record_id key lets a compaction drop the duplicate. */
  def warcIngestSink(records: DataFrame, claimsPath: String,
                     corpusPath: String)
                    (checkpoint: String): StreamingQuery =
    foreachTrigger(records, checkpoint) { (batch, _) =>
      val resp = batch.filter(col("warc_type") === "response")
        .select(col("record_id"), col("target_uri"),
          col("content_length"), md5(col("body")).as("body_md5"))
      val fresh = Materialize.localCheckpoint(
        readState(batch.sparkSession, claimsPath)
          .map(claims => resp.join(claims, Seq("record_id"), "left_anti"))
          .getOrElse(resp))
      fresh.write.mode("append").parquet(corpusPath)
      fresh.select(col("record_id"))
        .write.mode("append").parquet(claimsPath)
    }

  /** Streaming crawl-frontier admission — q220's canonical-URL dedup as
    * a sink (the batch/stream parity convention of cdcAdmitSink /
    * nearDupAdmitSink): each micro-batch of discovered URLs
    * canonicalizes through [[graft.operators.CrawlOps.canonicalized]],
    * collapses within-batch spellings (min doc_id per canonical form),
    * anti-joins against the persistent claims store on the canonical
    * key, appends the survivors to the accepted store, then claims
    * their canonicals. Accepted-before-claims ordering keeps a crash
    * replay at-least-once (duplicate accepted rows, recoverable) rather
    * than silently dropping URLs that were never written anywhere.
    *
    * 100 TB posture: the claims store is parquet partitioned by the
    * canonical hash key — the anti-join is the same keyed shuffle the
    * batch q220 window uses, and each trigger touches one batch of
    * URLs, never the full history. */
  def frontierSink(urls: DataFrame, claimsPath: String,
                   acceptedPath: String)
                  (checkpoint: String): StreamingQuery =
    foreachTrigger(urls, checkpoint) { (batch, _) =>
      val canon = graft.operators.CrawlOps.canonicalized(batch)
        .select(col("doc_id"), col("url"), col("canonical"), col("host"))
        .groupBy(col("canonical"))
        .agg(min(struct(col("doc_id"), col("url"), col("host"))).as("first"))
        .select(col("first.doc_id"), col("first.url"), col("canonical"),
          col("first.host"))
      val fresh = Materialize.localCheckpoint(
        readState(batch.sparkSession, claimsPath)
          .map(claims => canon.join(claims, Seq("canonical"), "left_anti"))
          .getOrElse(canon))
      fresh.write.mode("append").parquet(acceptedPath)
      fresh.select(col("canonical"))
        .write.mode("append").parquet(claimsPath)
    }

  /** Streaming canary gate — q326's leaked-string scan as an ingest
    * admit filter (the decontaminateSink pattern at exact-string
    * granularity): the canary set is a STATIC artifact precomputed from
    * the eval suite; each micro-batch explodes its docs' 4-token runs
    * (the shared [[graft.operators.TextOps.fourGrams]] definition —
    * batch and stream can never disagree on alignment), semi-joins the
    * broadcast canaries, and drops any doc carrying one; clean docs
    * append to `cleanPath`. STATELESS — filtering is idempotent, so a
    * crash-replayed trigger re-appends the same clean rows at worst
    * (duplicate rows, never a leaked canary). Per-trigger cost is
    * batch-sized + the eval-sized broadcast. */
  def canaryGateSink(docs: DataFrame, canaries: DataFrame,
                     cleanPath: String)
                    (checkpoint: String): StreamingQuery = {
    val c = Materialize.localCheckpoint(
      canaries.select(col("g4"), col("eval_id")))
    foreachTrigger(docs, checkpoint) { (batch, _) =>
      val hits = batch
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          explode(expr(graft.operators.TextOps.fourGrams)).as("g4"))
        .join(broadcast(c), "g4")
        .filter(col("doc_id") =!= col("eval_id"))
        .select(col("doc_id")).distinct()
      batch.join(hits, Seq("doc_id"), "left_anti")
        .write.mode("append").parquet(cleanPath)
    }
  }

  /** Streaming near-dup admission — the streaming form of q141's
    * batch-vs-index dedup: each micro-batch of documents is checked
    * against a persistent CLAIMS index of LSH band buckets (the q34
    * Kirsch–Mitzenmacher pipeline, one hashing pass per batch); a doc is
    * REJECTED when ANY of its band keys is already claimed, admitted docs
    * append their bands to the index and their rows to `admittedPath`.
    *
    * Index semantics match q141 exactly: within-batch duplicates are NOT
    * flagged against each other (they claim together and the next index
    * build's q33/q110 job resolves them), and the claims store is the
    * same artifact the batch pipeline would precompute. The check is a
    * band-key semi-join: at production scale the claims side is a stored
    * table scan, the batch side is micro-batch-sized, and nothing
    * corpus-sized shuffles per trigger. The plain parquet appends here
    * are at-least-once on crash replay — admitted rows write BEFORE
    * claims, so the worst replay outcome is duplicate admitted rows,
    * never lost ones; a transactional table format keyed by batchId is
    * the exactly-once swap at production scale. */
  def nearDupAdmitSink(docs: DataFrame, claimsPath: String,
                       admittedPath: String)
                      (checkpoint: String): StreamingQuery =
    foreachTrigger(docs, checkpoint) { (batch, _) =>
      val bands = Materialize.persist(graft.operators.TextOps.minhashBands(
        batch.withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"), col("toks"))))
      val hit = readState(batch.sparkSession, claimsPath)
        .map(claims => bands.join(claims.select(col("band"), col("bkey")),
            Seq("band", "bkey"), "left_semi")
          .select(col("doc_id")).distinct())
        .getOrElse(bands.select(col("doc_id")).limit(0))
      val admitted = Materialize.localCheckpoint(
        batch.join(hit, Seq("doc_id"), "left_anti"))
      // admitted rows FIRST, claims second: a crash between the two
      // replays the batch with the old claims state, re-admitting
      // the same docs — duplicate admitted rows (recoverable,
      // at-least-once). The reverse order would find the batch's own
      // claims on replay and reject docs that were never written
      // anywhere — silent loss.
      admitted.write.mode("append").parquet(admittedPath)
      bands.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(claimsPath)
    }
}
