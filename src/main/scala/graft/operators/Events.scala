package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental / upsert / event-time semantics (SURVEY.md §2.9–2.10) in
  * batch form over the `events` table. The true Structured-Streaming
  * counterparts (readStream + watermark + mapGroupsWithState) live in
  * [[graft.streaming]]; these batch queries pin the same semantics against
  * the DuckDB oracle, which a streaming job cannot.
  */
object Events {

  /** P10: date-watermark incremental pull — only rows newer than the cutoff
    * (wikidata_index.py:156-171 `{{INCREMENTAL_DATE}}` rewrite). The
    * predicate is pushed to the parquet scan. Fixed cutoff, not now():
    * injectable-clock policy per SURVEY.md §7.3 "Nondeterminism". */
  def q28IncrementalWatermark(s: SparkSession, dir: String): DataFrame = {
    // Filter on the RAW file column BEFORE the ts derivation: a predicate
    // on a derived column cannot be pushed through the conversion, but a
    // comparison against the scan's own `ts` reaches the parquet reader as
    // GreaterThan(ts, …) and prunes row groups. The literal adapts to the
    // file generation (epoch-nanos INT64 vs µs timestamp — see
    // Tables.deriveEventTime). Cutoff = 2024-01-25T00:00:00Z.
    val cutoffSec = 1706140800L
    val raw = Tables(s, dir, "events")
    val pred = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") > lit(cutoffSec * 1000000000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts") > lit(java.time.LocalDateTime.ofEpochSecond(
          cutoffSec, 0, java.time.ZoneOffset.UTC))
      case _ =>
        col("ts") > lit(java.time.Instant.ofEpochSecond(cutoffSec))
    }
    Tables.deriveEventTime(raw.filter(pred))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }

  /** Event-time tumbling window aggregation (batch twin of the streaming
    * windowed count; no reference counterpart — north-star extension). */
  def q29HourlyWindow(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** Sessionization with a 30-minute inactivity gap — lag + cumulative-sum
    * session ids; microsecond-exact gap arithmetic so the oracle agrees on
    * boundaries. Batch twin of flatMapGroupsWithState sessionization. */
  def q30Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
    val newSession = when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L)
    Tables.events(s, dir)
      .withColumn("new_s", newSession)
      .groupBy(col("user_id"))
      .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** JSON property extraction from the `props` string column (the driver
    * data's analog of nested-JSON reshaping, get_data_apis_vanilla.py
    * nested entities). regexp-based so both engines agree byte-for-byte. */
  def q31PropsExtract(s: SparkSession, dir: String): DataFrame = {
    val k = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    Tables.events(s, dir)
      .select(col("event_type"), nullif(k, lit("")).cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_cnt"))
  }

  /** K1: upsert last-write-wins — keep the newest row per id before the
    * sink (push_to_typesense.py:49-51 `action: "upsert"`). */
  def q32UpsertLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_event"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
  }

  /** As-of enrichment: each click event carries the value of the user's
    * most recent PRIOR purchase (null when none). Composed from built-in
    * window functions (preference (a) of the custom-operator ladder — no
    * custom SparkPlan needed); ties on ts break by event_id so both engines
    * walk the same order. At scale this is one shuffle on user_id. */
  def q57AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .withColumn("prior_purchase",
        round(last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
          .over(w), 2))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("prior_purchase"))
  }

  /** Hierarchical totals via ROLLUP(event_type, day) — per-(type, day),
    * per-type subtotal, and grand total in one pass (no reference
    * counterpart; standard analytics surface). */
  def q59Rollup(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }

  /** Interval (range) join: attribute each purchase to every click by the
    * same user within the preceding hour — the batch twin of the
    * stream-stream interval join ([[graft.streaming.StreamOps.clickToPurchase]]),
    * so the watermarked streaming semantics are pinned against the oracle.
    * Physically an equi-join on user_id with the range predicate evaluated
    * inside the join — one shuffle, no quadratic pair blowup, since the
    * equi key bounds candidates to same-user pairs. */
  def q70AttributionBatch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"), col("value"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("purchase_us") >= col("click_us") &&
        col("purchase_us") <= col("click_us") + lit(3600L * 1000000L))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        round(col("value"), 2).as("value"))
  }

  /** Per-hour distinct-user KMV estimate — the oracle-checked batch twin of
    * [[graft.streaming.StreamOps.hourlyDistinctUsers]] (same sketch, same
    * estimator, windowed by event-time hour). Exact count alongside. */
  def q77HourlyKmv(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        graft.functions.BottomK.bottomK(md5(col("user_id").cast("string")), k).as("lows"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        graft.functions.BottomK.kmvEstimate(col("lows"), k).as("est_users"),
        col("n_users"))
  }

  /** Bin-replicated interval join with NO equi key: every click landing
    * inside ANY error's 30-minute window, across all users. q70 leans on
    * its user_id equi key to bound candidates; here no such key exists, so
    * a naive theta-join is all-pairs (clicks × windows — quadratic, the
    * classic 100 TB range-join killer). Instead both sides map onto fixed
    * 30-minute time bins: a window (duration == bin width) overlaps at
    * most 2 bins and replicates to each; a point click lives in exactly 1
    * bin. The equi-join on `bin` bounds candidates to same-bin pairs, the
    * residual range predicate runs inside the join, and because the
    * click's bin is unique each qualifying (error, click) pair is emitted
    * exactly once — no dedup pass needed. At scale this is one shuffle on
    * a time key both sides are naturally clustered by. */
  /** Library core of the bin-replicated interval join over ARBITRARY
    * interval lengths: intervals (iid, t0, t1) replicate to each fixed-
    * width bin they overlap (⌈len/binW⌉+1 bins — pick binW near the
    * typical interval length to keep replication ~2×), points (pid, t)
    * map to exactly one bin, the bin equi-join bounds candidates, and
    * the residual containment predicate runs inside the join. Each
    * qualifying (interval, point) pair emits EXACTLY once because the
    * point's bin is unique — no dedup pass regardless of how many bins
    * the interval spans. */
  def intervalJoin(points: DataFrame, intervals: DataFrame, binW: Long): DataFrame = {
    val w = intervals.withColumn("bin",
      explode(sequence(floor(col("t0") / binW).cast("long"),
        floor(col("t1") / binW).cast("long"))))
    val p = points.withColumn("bin", floor(col("t") / binW).cast("long"))
    w.join(p, Seq("bin"))
      .filter(col("t") >= col("t0") && col("t") <= col("t1"))
      .select(col("iid"), col("pid"), (col("t") - col("t0")).as("gap"))
  }

  def q232IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val binUs = 1800L * 1000000L // bin width == window duration (30 min)
    val ev = Tables.events(s, dir)
    val windows = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("iid"), unix_micros(col("ts")).as("t0"))
      .withColumn("t1", col("t0") + binUs)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("pid"), unix_micros(col("ts")).as("t"))
    intervalJoin(clicks, windows, binUs)
      .select(col("iid").as("error_id"), col("pid").as("click_id"),
        col("gap").as("gap_us"))
  }

  /** Gap-fill + forward-fill resample: a dense per-user hourly grid over
    * the user's observed purchase span, carrying the last observed hourly
    * purchase total forward across empty hours (the standard time-series
    * densification before windowed feature extraction). The grid comes
    * from `sequence()` exploded per user — span-bounded fan-out, no
    * driver-side loop — and the fill is one `last(ignoreNulls)` running
    * window per user: a single shuffle on user_id end to end. */
  def q226Gapfill(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(round(sum(col("value")), 2).as("obs"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("filled", last(col("obs"), ignoreNulls = true).over(w))
      .select(col("user_id"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("obs"), col("filled"))
  }

  /** Time-weighted interval→bucket allocation: each user's inter-event
    * interval [ts, next ts) — capped at one hour, the sessionization
    * convention — spreads its duration and its value across the hourly
    * buckets it overlaps, giving per-(event_type, hour) busy-time and
    * value totals. This is the utilization/cost-attribution operator
    * (machine-seconds per hour, spend per window) that plain hourly
    * groupBys get WRONG whenever intervals straddle bucket edges.
    *
    * Determinism at scale: the entire computation stays in the INTEGER
    * microsecond domain — bucket ids are integer divisions, overlap is a
    * long subtraction, and the value allocation is integer-proportional
    * (`value_micro * overlap div duration`), so every aggregate is a SUM
    * of longs: order-independent under any partitioning (a float Σ would
    * drift). The cap bounds the per-row `sequence()` fan-out at 2
    * buckets (the library generalization would cap at span/bucket), and
    * the only shuffles are the per-user lead window and the final
    * (type, hour) aggregation with map-side partials. */
  def q251IntervalAllocate(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val iv = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("nxt", lead(col("us"), 1).over(byUser))
      .filter(col("nxt").isNotNull && col("nxt") > col("us"))
      .withColumn("fin", least(col("nxt"), col("us") + hourUs))
      .withColumn("vmic", round(col("value") * 1e6).cast("long"))
      .select(col("event_type").as("g"), col("us"), col("fin"), col("vmic"))
    allocateIntervals(iv, hourUs)
      .select(col("g").as("event_type"), col("hour_us"),
        col("busy_us"), col("alloc_micro"))
  }

  /** [[q251IntervalAllocate]]'s core as a library operator (the q193
    * parameterization convention): allocates half-open integer-µs
    * intervals (g, us, fin, vmic) with us < fin across fixed-width
    * buckets. Caller bounds the span (cap intervals first) so the
    * per-row fan-out stays ≤ span/bucketUs + 1. Returns
    * (g, hour_us, busy_us, alloc_micro), all longs. */
  def allocateIntervals(iv: DataFrame, bucketUs: Long): DataFrame =
    iv.select(col("g"), col("us"), col("fin"), col("vmic"),
        explode(expr(s"sequence(us div $bucketUs, (fin - 1) div $bucketUs)")).as("hb"))
      .withColumn("h0", col("hb") * bucketUs)
      .withColumn("ov",
        least(col("fin"), col("h0") + bucketUs) - greatest(col("us"), col("h0")))
      .groupBy(col("g"), col("h0").as("hour_us"))
      .agg(sum(col("ov")).as("busy_us"),
        sum(expr("vmic * ov div (fin - us)")).as("alloc_micro"))

  /** First-order Markov transition model over each user's event-type
    * journey — the generative companion to the funnel (q234: one fixed
    * path) and retention (q235: one fixed cadence): counts and
    * probabilities for EVERY observed state→state step, with a START
    * pseudo-state so entry behavior is modeled too. The per-user
    * sequence order is (ts, event_id) — total, so the lag is
    * deterministic under ties. One user-key window shuffle + one
    * (src,dst) aggregation with map-side partials; the row-normalizing
    * window runs on the states×states frame (≤ |types|² rows — census-
    * sized, same class as the closure convergence reads). p derives from
    * integer counts (bit-exact as doubles, the house ratio rule). */
  def q252MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val tr = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("src_state",
        coalesce(lag(col("event_type"), 1).over(byUser), lit("START")))
      .groupBy(col("src_state"), col("event_type").as("dst_state"))
      .agg(count(lit(1)).as("n"))
    tr.withColumn("p",
        round(col("n") / sum(col("n")).over(Window.partitionBy(col("src_state"))), 6))
  }

  /** Rolling z-score anomaly detection over per-(event_type, day) counts
    * — the volume-monitoring operator a pipeline dashboard runs on every
    * ingest slice: flag a day whose count deviates > 3σ from the
    * TRAILING 7-day window (frame ends at the PREVIOUS day, so the
    * tested point never contaminates its own baseline; ≥ 4 prior days
    * required before judging).
    *
    * The 3σ test never touches floating point: with S1 = Σx, S2 = Σx²
    * over the n-day frame, z² > 9 is the INTEGER cross-multiplication
    *   (n·x − S1)² > 9·(n·S2 − S1²)
    * so the flag is bit-identical on any engine and partitioning — the
    * same move the waterfill saturation test uses. One (type, day)
    * aggregation with map-side partials, then a per-type ordered window
    * over the DAYS table (days per type, not events — census-sized
    * partitions, no skew). */
  def q257RollingAnomaly(s: SparkSession, dir: String): DataFrame =
    rollingAnomaly(dailyCounts(Tables.events(s, dir)))

  /** Per-(event_type, day) counts — the shared input of the batch query
    * and the streaming sink's merged state table. */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))

  /** [[q257RollingAnomaly]]'s core over any (event_type, day, x) daily
    * frame — also evaluated per trigger by
    * [[graft.streaming.StreamOps.anomalySink]] on its running state. */
  def rollingAnomaly(daily: DataFrame): DataFrame = {
    val wnd = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily.select(col("event_type"), col("day"), col("x"),
        count(col("x")).over(wnd).as("n"),
        sum(col("x")).over(wnd).as("s1"),
        sum(col("x") * col("x")).over(wnd).as("s2"))
      .filter(col("n") >= 4)
      .select(col("event_type"), col("day"), col("x"), col("n"),
        ((col("n") * col("x") - col("s1"))
          * (col("n") * col("x") - col("s1"))).as("zsq_num"),
        (lit(9L) * (col("n") * col("s2") - col("s1") * col("s1"))).as("zsq_den"))
      .withColumn("anomaly", col("zsq_num") > col("zsq_den"))
  }

  /** Per-user EWMA (α = 1/2) over the event-value stream — the smoothing
    * primitive behind per-entity trend features. A recurrence
    * (e_i = (e_{i−1} + v_i) / 2) cannot be a window function, and a
    * driver loop would not be distributed; instead each user's stream
    * collapses to ONE grouped row and the recurrence runs as a codegen'd
    * `aggregate` HOF fold over the time-sorted struct array — the
    * per-group-sequential-fold pattern: parallel across users, exact
    * sequential semantics within a user. State per user is its event
    * array (bounded: ~70 events/user in this table; an unbounded stream
    * would fold incrementally via mapGroupsWithState — the q30 streaming
    * posture). Arithmetic is integer micro-units with `div 2` halving,
    * so the fold is bit-replayable (values are non-negative, making
    * truncating and flooring division agree across engines). */
  def q259EwmaFold(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
          round(col("value") * 1e6).cast("long").as("v")).as("rec"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("rec"))).as("arr"))
      .select(col("user_id"), size(col("arr")).cast("long").as("n_events"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].v, " +
          "(acc, e) -> (acc + e.v) div 2)").as("ewma_micro"))

  /** Two-proportion A/B z-test per event type: users split into arms by
    * key parity (deterministic, no RNG — the q58 hashing convention),
    * "converted" = the user emitted the event type at all. The
    * significance DECISION is an integer cross-multiplication —
    *   z² > 3.8416  ⟺  10000·(x₁n₀−x₀n₁)²·(n₀+n₁) > 38416·n₀n₁·x·(n−x)
    * carried in DECIMAL(38,0) (DuckDB's HUGEINT twin), so the flag is
    * bit-identical on any engine; the reported z² rounds from the same
    * exact integers. One distinct-(user,type) shuffle + a 2-row arm
    * census broadcast — experiment readouts are aggregation-shaped at
    * any scale. */
  def q261AbTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val users = ev.select(col("user_id")).distinct()
      .withColumn("arm", col("user_id") % 2)
    val armSizes = users.groupBy(col("arm")).agg(count(lit(1)).as("cnt"))
      .agg(sum(when(col("arm") === 0, col("cnt"))).as("n0"),
        sum(when(col("arm") === 1, col("cnt"))).as("n1"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val d = dec(col("x1") * col("n0") - col("x0") * col("n1"))
    val num2 = d * d * dec(col("n0") + col("n1"))
    val den = dec(col("n0") * col("n1")) * dec(col("x0") + col("x1")) *
      dec(col("n0") + col("n1") - col("x0") - col("x1"))
    ev.select(col("user_id"), col("event_type")).distinct()
      .join(broadcast(users), Seq("user_id"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("x0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("x1"))
      .crossJoin(broadcast(armSizes))
      .select(col("event_type"), col("n0"), col("x0"), col("n1"), col("x1"),
        round(col("x0").cast("double") / col("n0"), 6).as("rate0"),
        round(col("x1").cast("double") / col("n1"), 6).as("rate1"),
        when(den === dec(lit(0)), lit(null).cast("double"))
          .otherwise(round(num2.cast("double") / den.cast("double"), 4))
          .as("zsq"),
        (num2 * dec(lit(10000)) > den * dec(lit(38416))).as("significant"))
  }

  /** Top session path trigrams — the sequence-mining readout over
    * sessionized journeys (q30's 30-minute-gap sessions): every
    * 3-step event-type sequence within a session, counted corpus-wide,
    * top-20 under (count desc, lexical). Two stacked windows on the SAME
    * (user, time) shuffle key (Catalyst collapses them into one sort),
    * one (s1,s2,s3) aggregation with map-side partials, and a
    * TakeOrderedAndProject — no global sort. The n-gram companion to
    * q252's first-order transition matrix: Markov says where one step
    * leads; this surfaces whole recurring routes. */
  def q262PathTrigrams(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      .withColumn("new_s",
        when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(byUser))
    val bySess = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("us"), col("event_id"))
    ev.withColumn("t2", lead(col("event_type"), 1).over(bySess))
      .withColumn("t3", lead(col("event_type"), 2).over(bySess))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("s1"), col("t2").as("s2"),
        col("t3").as("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
      .limit(20)
  }

  /** SCD2 history build: collapse each user's event stream into
    * slowly-changing-dimension validity intervals — one row per
    * consecutive run of the same event_type, with [valid_from, valid_to)
    * half-open bounds (valid_to NULL on the open run). The run ids come
    * from the lag-change + running-sum idiom (one window), the interval
    * bounds from a lead over the per-user run frame (run-cardinality
    * sized). Both windows partition on user_id, so the whole history
    * build is one shuffle on the dimension key — the layout an SCD2
    * merge-write wants anyway. */
  def q227Scd2(s: SparkSession, dir: String): DataFrame =
    finishRuns(runsOf(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        lit(1L).as("wt"))))

  /** Weight-aware run collapse shared by q227 and the incremental q244:
    * consecutive same-state rows (per user, (ts, event_id) order) fold
    * into (user_id, run_id, state, from_ts, n_events = Σwt). The weight
    * column is what lets an already-collapsed run re-enter the machinery
    * as ONE pseudo-row carrying its event count. */
  private def runsOf(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("event_type"), 1).over(byUser)
    ev
      .withColumn("chg", when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id",
        sum(col("chg")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("run_id"), col("event_type"))
      .agg(min(col("ts")).as("from_ts"), sum(col("wt")).as("n_events"))
  }

  /** Interval bounds + output shape shared by q227/q244: valid_to = next
    * run's start (runs are time-ordered per user, so from_ts is a valid
    * run order even when run_ids come from different builds). */
  private def finishRuns(runs: DataFrame): DataFrame = {
    val byRun = Window.partitionBy(col("user_id")).orderBy(col("from_ts"))
    runs
      .withColumn("to_ts", lead(col("from_ts"), 1).over(byRun))
      .select(col("user_id"), col("event_type").as("state"),
        date_format(col("from_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("n_events"))
  }

  /** INCREMENTAL SCD2 maintenance — the q216 move applied to q227: the
    * history rebuilds from (closed runs ∪ a tail rebuild), never from
    * the full event log, while the ORACLE recomputes the whole history
    * from scratch — the hash-match proves incremental == full rebuild.
    * Mechanics: events before the cutoff build the base history once;
    * each user's OPEN run re-enters the run machinery as ONE pseudo-row
    * weighted with its event count (wt = n_events, ts = from_ts — the
    * run collapse is weight-aware, so a same-state first new run merges
    * with the open run and keeps its original valid_from, while a
    * different state closes it). Per refresh the windows only touch
    * open-run rows + NEW events — the 100 TB property: incremental cost
    * scales with the delta, not the history. Closed runs pass through
    * untouched. */
  def q244Scd2Incremental(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(java.time.LocalDateTime.of(2024, 1, 20, 0, 0))
      .cast(Tables.events(s, dir).schema("ts").dataType)
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val base = runsOf(ev.filter(col("ts") < cutoff).withColumn("wt", lit(1L)))
    val lastRun = Window.partitionBy(col("user_id"))
    val baseM = base.withColumn("is_open",
      col("run_id") === max(col("run_id")).over(lastRun))
    val closed = baseM.filter(!col("is_open"))
      .select(col("user_id"), col("run_id"), col("event_type"),
        col("from_ts"), col("n_events"))
    // the open run as a weighted pseudo-event (event_id −1 sorts before
    // any real event; its ts predates the cutoff, so order is safe)
    val pseudo = baseM.filter(col("is_open"))
      .select(col("user_id"), col("event_type"),
        col("from_ts").as("ts"), lit(-1L).as("event_id"),
        col("n_events").as("wt"))
    val tail = runsOf(
      ev.filter(col("ts") >= cutoff).withColumn("wt", lit(1L))
        .unionByName(pseudo))
    finishRuns(closed.unionByName(tail))
  }

  /** Snapshot diff (lakehouse CDC derivation): classify every key across
    * two table versions as insert / delete / update by a single full-outer
    * join on the key, comparing the value columns — the read-side
    * complement of the MERGE upsert sink (q65 writes a new version; this
    * reports what changed between two). Unchanged keys drop out, so the
    * output is delta-sized. One shuffle on the snapshot key; at scale both
    * versions are bucketed by that key and the join is co-located.
    *
    * Fixture snapshots derive from `orders` per the CrawlOps convention
    * (built inside the query on both engines): the OLD version is missing
    * keys ≡0 (mod 11) (inserted since), carries a stale price on keys ≡0
    * (mod 7) (updated since); the NEW version dropped keys ≡0 (mod 13)
    * (deleted since). */
  def q233SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val old = o.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 7 === 0, round(col("o_totalprice") + 1.0, 2))
          .otherwise(col("o_totalprice")).as("old_price"))
    val neu = o.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("new_price"))
    old.join(neu, Seq("k"), "full_outer")
      .withColumn("change",
        when(col("old_price").isNull, lit("insert"))
          .when(col("new_price").isNull, lit("delete"))
          .when(col("old_price") =!= col("new_price"), lit("update")))
      .filter(col("change").isNotNull)
      .select(col("k").as("o_orderkey"), col("change"),
        col("old_price"), col("new_price"))
  }

  /** Ordered funnel analysis: the furthest signup → click → purchase
    * stage each user reaches, where each stage must happen STRICTLY AFTER
    * the previous one (a purchase before the first post-signup click does
    * not convert the funnel). Three chained min-over-user windows — each
    * stage's cutoff is the previous window's result — then a per-user
    * collapse; all four operators key on user_id, so Spark plans ONE
    * exchange and the windows + final aggregation reuse its partitioning. */
  def q234Funnel(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val out = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("s1",
        min(when(col("event_type") === "signup", col("us"))).over(byUser))
      .withColumn("s2",
        min(when(col("event_type") === "click" && col("us") > col("s1"), col("us"))).over(byUser))
      .withColumn("s3",
        min(when(col("event_type") === "purchase" && col("us") > col("s2"), col("us"))).over(byUser))
      .groupBy(col("user_id"))
      .agg(max(col("s1")).as("first_signup_us"),
        max(col("s2")).as("first_click_us"),
        max(col("s3")).as("first_purchase_us"))
    out.withColumn("stage",
      when(col("first_purchase_us").isNotNull, lit("purchase"))
        .when(col("first_click_us").isNotNull, lit("click"))
        .when(col("first_signup_us").isNotNull, lit("signup"))
        .otherwise(lit("none")))
  }

  /** Cohort retention matrix: users grouped by first-active week, counted
    * per week-offset since their cohort week — the standard growth
    * analytics grid. Cohort assignment is one aggregation on user_id; the
    * activity join keys on the same column (partitioning reuse); the
    * final distinct + count shuffles the (cohort, offset, user) triple,
    * whose cardinality is bounded by |events|. */
  def q235Retention(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01")))
    val e = Tables.events(s, dir)
      .select(col("user_id"), floor(day / 7).cast("long").as("week"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    e.join(cohort, Seq("user_id"))
      .select(col("user_id"), col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Exponentially time-decayed per-type volume (half-life 7 days,
    * anchored at the corpus max date so the query is deterministic) —
    * the trending/recency weighting a plain count can't express: an
    * event contributes 2^(−age/7), so last week outweighs last quarter.
    * The decayed counter is MERGEABLE the way production decay counters
    * are: partials anchored at the same reference sum directly, and
    * re-anchoring to a newer reference is one scalar multiply of the
    * total — never a replay. Determinism: 2^(−age/7) factors as an
    * exact integer right-shift by (age div 7) of a SEVEN-literal
    * micro-unit table for (age mod 7) — no transcendental runs in
    * either engine (a first cut used pow() and drifted one micro-unit
    * on a handful of ages between libm implementations), so the
    * aggregate is an exact integer everywhere. */
  /** (event_type, d, n) daily counts → the decayed report, anchored at
    * the max day present. ONE definition shared by the batch q283 and
    * the streaming [[graft.streaming.StreamOps.decayedCountsSink]] —
    * decay depends only on the DAY, so per-day counts are a lossless
    * compression of the per-event stream for this operator. */
  private[graft] def decayedFromDaily(daily: DataFrame): DataFrame = {
    val ref = daily.agg(max(col("d")).as("ref"))
    daily.crossJoin(broadcast(ref))
      .withColumn("age", datediff(col("ref"), col("d")).cast("long"))
      .withColumn("wm", expr(s"shiftright(${Q283Lookup}, " +
        "CAST(least(age div 7, 62) AS INT))"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("wm") * col("n")).as("decayed_micro"))
      .withColumn("decayed",
        round(col("decayed_micro") / lit(1000000.0), 4))
  }

  /** (event_type, d: DATE, n) counts — the decayed-counter state. */
  private[graft] def decayDailyCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))

  def q283DecayedCounts(s: SparkSession, dir: String): DataFrame =
    decayedFromDaily(decayDailyCounts(Tables.events(s, dir)))

  /** pass@k ESTIMATION (Chen et al. 2021, "Evaluating LLMs Trained on
    * Code" — the HumanEval estimator): per problem, n sampled attempts
    * with c passes give the unbiased pass@k = 1 − C(n−c,k)/C(n,k). The
    * binomial RATIO is computed as the explicit ten-factor product
    * Π_{i<10} (n−c−i)/(n−i) — NEVER the two binomials themselves
    * (C(500,10) ≈ 2.5×10²¹ overflows Long and loses double precision;
    * each factor here divides exactly-representable small integers, so
    * the fixed-order IEEE product is bit-identical on both engines —
    * the q283 pow() lesson applied to combinatorics). n−c < k short-
    * circuits to exactly 1.0 (an all-k sample must contain a pass).
    * Attempts map to problems by event_id mod 50 and pass/fail derives
    * from an md5 bit with a per-problem rate (deterministic fixture —
    * the q176 hash-bucket idiom), so the estimator is hash-oracled
    * end-to-end. One scan, one bounded groupBy: at 100 TB of eval logs
    * this is a two-column aggregation over |problems| groups. */
  /** (problem, n, c) per-problem attempt/pass counts from raw event
    * rows — the estimator's complete sufficient statistic, shared by the
    * batch q314 and the streaming
    * [[graft.streaming.StreamOps.passAtKSink]] (counts sum-merge across
    * micro-batches, so the state is two longs per problem forever). */
  private[graft] def passCounts(events: DataFrame): DataFrame =
    events
      .withColumn("problem", col("event_id") % 50)
      .withColumn("h100",
        conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100)
      .withColumn("pass",
        (col("h100") < lit(15L) + col("problem") % 40).cast("long"))
      .groupBy(col("problem"))
      .agg(count(lit(1)).as("n"), sum(col("pass")).as("c"))

  /** The estimator over merged (problem, n, c) counts — ONE definition
    * for batch and stream, so the parity can never drift. */
  private[graft] def passAtKReport(counts: DataFrame): DataFrame = {
    val agg = counts.filter(col("n") >= 10)
    val f = (col("n") - col("c")).cast("double")
    val nd = col("n").cast("double")
    val prod = (0 until 10)
      .map(i => (f - lit(i.toDouble)) / (nd - lit(i.toDouble)))
      .reduce(_ * _)
    agg.select(col("problem"), col("n"), col("c"),
      round(col("c").cast("double") / nd, 6).as("pass1"),
      when(col("n") - col("c") < 10, lit(1.0))
        .otherwise(round(lit(1.0) - prod, 6)).as("pass10"))
  }

  def q314PassAtK(s: SparkSession, dir: String): DataFrame =
    passAtKReport(passCounts(Tables.events(s, dir)))

  /** round(2^(−r/7)·10⁶) for r = 0..6, rendered as a CASE so the Spark
    * expression and the DuckDB oracle share ONE source of the constants. */
  private val Q283Lookup: String =
    "CASE CAST(age % 7 AS INT) " +
      (0 until 7).map(r => s"WHEN $r THEN CAST(" +
        s"${math.round(math.pow(2.0, -r / 7.0) * 1000000)} AS BIGINT) ")
        .mkString + "END"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q283_decayed_counts" -> q283DecayedCounts _,
    "q314_pass_at_k" -> q314PassAtK _,
    "q57_asof_join" -> q57AsofJoin _,
    "q251_interval_allocate" -> q251IntervalAllocate _,
    "q252_markov_transitions" -> q252MarkovTransitions _,
    "q257_rolling_anomaly" -> q257RollingAnomaly _,
    "q259_ewma_fold" -> q259EwmaFold _,
    "q261_ab_test" -> q261AbTest _,
    "q262_path_trigrams" -> q262PathTrigrams _,
    "q233_snapshot_diff" -> q233SnapshotDiff _,
    "q234_funnel"        -> q234Funnel _,
    "q235_retention"     -> q235Retention _,
    "q244_scd2_incremental" -> q244Scd2Incremental _,
    "q232_interval_join" -> q232IntervalJoin _,
    "q226_gapfill"       -> q226Gapfill _,
    "q227_scd2"          -> q227Scd2 _,
    "q59_rollup"    -> q59Rollup _,
    "q70_attribution_batch" -> q70AttributionBatch _,
    "q77_hourly_kmv" -> q77HourlyKmv _,
    "q28_incremental_watermark" -> q28IncrementalWatermark _,
    "q29_hourly_window"         -> q29HourlyWindow _,
    "q30_sessionize"            -> q30Sessionize _,
    "q31_props_extract"         -> q31PropsExtract _,
    "q32_upsert_latest"         -> q32UpsertLatest _
  )

  val oracles: Map[String, String] = Map(
    "q314_pass_at_k" -> {
      // the explicit ten-factor product, identical op order to the Spark
      // side (left-assoc multiplication of IEEE divisions of
      // exactly-representable integers)
      val prod = (0 until 10).map(i =>
        s"((CAST(n - c AS DOUBLE) - $i.0) / (CAST(n AS DOUBLE) - $i.0))")
        .mkString(" * ")
      s"""WITH e AS (SELECT event_id % 50 AS problem,
                CASE WHEN CAST(('0x'||substr(md5(CAST(event_id AS VARCHAR)),
                                             1, 4)) AS BIGINT) % 100
                          < 15 + (event_id % 50) % 40
                     THEN 1 ELSE 0 END AS pass
              FROM events),
         a AS (SELECT problem, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(pass) AS BIGINT) AS c
               FROM e GROUP BY 1 HAVING count(*) >= 10)
         SELECT problem, n, c,
                round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pass1,
                CASE WHEN n - c < 10 THEN 1.0
                     ELSE round(1.0 - $prod, 6) END AS pass10
         FROM a"""
    },
    "q283_decayed_counts" ->
      s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
         r AS (SELECT max(d) AS ref FROM ev),
         ag AS (SELECT event_type,
                  CAST(date_diff('day', d, ref) AS BIGINT) AS age
                FROM ev CROSS JOIN r),
         w AS (SELECT event_type,
                 ($Q283Lookup) >> CAST(least(age // 7, 62) AS INT) AS wm
               FROM ag)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(wm) AS BIGINT) AS decayed_micro,
                round(sum(wm) / 1000000.0, 4) AS decayed
         FROM w GROUP BY 1""",
    "q251_interval_allocate" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
                           epoch_us(ts) AS us
                    FROM events),
         iv AS (SELECT event_type, us, value,
                       lead(us) OVER (PARTITION BY user_id
                         ORDER BY us, event_id) AS nxt
                FROM e),
         capped AS (SELECT event_type, us,
                           least(nxt, us + 3600000000) AS fin,
                           CAST(round(value * 1e6) AS BIGINT) AS vmic
                    FROM iv WHERE nxt IS NOT NULL AND nxt > us),
         b AS (SELECT event_type, us, fin, vmic,
                      unnest(generate_series(us // 3600000000,
                                             (fin - 1) // 3600000000)) AS hb
               FROM capped),
         ov AS (SELECT event_type, hb * 3600000000 AS hour_us,
                       least(fin, hb * 3600000000 + 3600000000)
                         - greatest(us, hb * 3600000000) AS ov,
                       vmic, fin - us AS dur
                FROM b)
         SELECT event_type, hour_us, CAST(sum(ov) AS BIGINT) AS busy_us,
                CAST(sum(vmic * ov // dur) AS BIGINT) AS alloc_micro
         FROM ov GROUP BY 1, 2""",
    "q259_ewma_fold" ->
      """WITH RECURSIVE e AS (SELECT user_id,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_id) AS rn,
                CAST(round(value * 1e6) AS BIGINT) AS v
              FROM events),
         f(user_id, rn, acc) AS (
           SELECT user_id, rn, v FROM e WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.rn, (f.acc + e.v) // 2
           FROM f JOIN e ON e.user_id = f.user_id AND e.rn = f.rn + 1)
         SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
                CAST(arg_max(acc, rn) AS BIGINT) AS ewma_micro
         FROM f GROUP BY 1""",
    "q261_ab_test" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         ua AS (SELECT user_id, user_id % 2 AS arm FROM u),
         arms AS (SELECT
                sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1 FROM ua),
         c AS (SELECT DISTINCT e.user_id, e.event_type, ua.arm
               FROM events e JOIN ua ON e.user_id = ua.user_id),
         x AS (SELECT event_type,
                CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS x0,
                CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x1
               FROM c GROUP BY 1),
         j AS (SELECT event_type, CAST(n0 AS BIGINT) AS n0, x0,
                      CAST(n1 AS BIGINT) AS n1, x1,
                      CAST(x1 * n0 - x0 * n1 AS HUGEINT) AS d,
                      CAST(n0 AS HUGEINT) * n1 * (x0 + x1)
                        * (n0 + n1 - x0 - x1) AS den
               FROM x CROSS JOIN arms)
         SELECT event_type, n0, x0, n1, x1,
                round(CAST(x0 AS DOUBLE) / n0, 6) AS rate0,
                round(CAST(x1 AS DOUBLE) / n1, 6) AS rate1,
                CASE WHEN den = 0 THEN NULL
                     ELSE round(CAST(d * d * (n0 + n1) AS DOUBLE)
                                / CAST(den AS DOUBLE), 4) END AS zsq,
                d * d * (n0 + n1) * 10000 > den * 38416 AS significant
         FROM j""",
    "q262_path_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                    FROM events),
         g AS (SELECT *, us - lag(us) OVER w AS gap FROM e
               WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (SELECT *, sum(CASE WHEN gap IS NULL OR gap > 1800000000
                                  THEN 1 ELSE 0 END) OVER w AS sid
               FROM g
               WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         t AS (SELECT event_type AS s1,
                      lead(event_type, 1) OVER w AS s2,
                      lead(event_type, 2) OVER w AS s3
               FROM s
               WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id))
         SELECT s1, s2, s3, count(*) AS n FROM t
         WHERE s3 IS NOT NULL GROUP BY 1, 2, 3
         ORDER BY n DESC, s1, s2, s3 LIMIT 20""",
    "q257_rolling_anomaly" ->
      """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                count(*) AS x
         FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, day, x,
                      count(x) OVER fr AS n,
                      sum(x) OVER fr AS s1,
                      sum(x * x) OVER fr AS s2
               FROM daily
               WINDOW fr AS (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, CAST(x AS BIGINT) AS x, CAST(n AS BIGINT) AS n,
                CAST((n * x - s1) * (n * x - s1) AS BIGINT) AS zsq_num,
                CAST(9 * (n * s2 - s1 * s1) AS BIGINT) AS zsq_den,
                (n * x - s1) * (n * x - s1) > 9 * (n * s2 - s1 * s1) AS anomaly
         FROM w WHERE n >= 4""",
    "q252_markov_transitions" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
                    FROM events),
         tr AS (SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY us, event_id), 'START') AS src_state,
                  event_type AS dst_state
                FROM e),
         c AS (SELECT src_state, dst_state, count(*) AS n
               FROM tr GROUP BY 1, 2)
         SELECT src_state, dst_state, n,
                round(n / CAST(sum(n) OVER (PARTITION BY src_state) AS DOUBLE), 6)
                  AS p
         FROM c""",
    "q233_snapshot_diff" ->
      """WITH old AS (SELECT o_orderkey AS k,
                CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice + 1.0, 2)
                     ELSE o_totalprice END AS old_price
              FROM orders WHERE o_orderkey % 11 <> 0),
         neu AS (SELECT o_orderkey AS k, o_totalprice AS new_price
              FROM orders WHERE o_orderkey % 13 <> 0),
         j AS (SELECT coalesce(old.k, neu.k) AS o_orderkey, old_price, new_price
               FROM old FULL OUTER JOIN neu ON old.k = neu.k)
         SELECT o_orderkey,
                CASE WHEN old_price IS NULL THEN 'insert'
                     WHEN new_price IS NULL THEN 'delete'
                     WHEN old_price <> new_price THEN 'update' END AS change,
                old_price, new_price
         FROM j
         WHERE old_price IS NULL OR new_price IS NULL OR old_price <> new_price""",
    "q234_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         w1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
                  OVER (PARTITION BY user_id) AS s1 FROM e),
         w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us > s1 THEN us END)
                  OVER (PARTITION BY user_id) AS s2 FROM w1),
         w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > s2 THEN us END)
                  OVER (PARTITION BY user_id) AS s3 FROM w2)
         SELECT user_id,
                max(s1) AS first_signup_us,
                max(s2) AS first_click_us,
                max(s3) AS first_purchase_us,
                CASE WHEN max(s3) IS NOT NULL THEN 'purchase'
                     WHEN max(s2) IS NOT NULL THEN 'click'
                     WHEN max(s1) IS NOT NULL THEN 'signup'
                     ELSE 'none' END AS stage
         FROM w3 GROUP BY 1""",
    "q235_retention" ->
      """WITH e AS (SELECT user_id,
                CAST(floor(date_diff('day', DATE '2024-01-01', ts) / 7) AS BIGINT) AS week
              FROM events),
         c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
         a AS (SELECT DISTINCT e.user_id, c.cohort_week,
                      e.week - c.cohort_week AS week_offset
               FROM e JOIN c ON e.user_id = c.user_id)
         SELECT cohort_week, week_offset, count(*) AS n_active
         FROM a GROUP BY 1, 2""",
    "q232_interval_join" ->
      """SELECT e.event_id AS error_id, c.event_id AS click_id,
                epoch_us(c.ts) - epoch_us(e.ts) AS gap_us
         FROM events e JOIN events c
           ON epoch_us(c.ts) >= epoch_us(e.ts)
          AND epoch_us(c.ts) <= epoch_us(e.ts) + 1800000000
         WHERE e.event_type = 'error' AND c.event_type = 'click'""",
    "q226_gapfill" ->
      """WITH p AS (SELECT user_id, date_trunc('hour', ts) AS hour,
                           round(sum(value), 2) AS obs
                    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM p GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
                  FROM span)
         SELECT g.user_id, strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour, p.obs,
                last_value(p.obs IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.hour
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM grid g LEFT JOIN p ON g.user_id = p.user_id AND g.hour = p.hour""",
    // q244's oracle IS the full-history SCD2 rebuild (q227's SQL): the
    // hash-match proves the incremental closed∪tail construction equals
    // recomputing from scratch — the q216 incremental-artifact pattern.
    "q244_scd2_incremental" ->
      """WITH c AS (
           SELECT user_id, event_type, ts, event_id,
                  CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
               FROM c),
         runs AS (SELECT user_id, run_id, event_type,
                         min(ts) AS from_ts, count(*) AS n_events
                  FROM r GROUP BY 1, 2, 3)
         SELECT user_id, event_type AS state,
                strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
                strftime(lead(from_ts) OVER (PARTITION BY user_id ORDER BY run_id),
                         '%Y-%m-%d %H:%M:%S') AS valid_to,
                n_events
         FROM runs""",
    "q227_scd2" ->
      """WITH c AS (
           SELECT user_id, event_type, ts, event_id,
                  CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
               FROM c),
         runs AS (SELECT user_id, run_id, event_type,
                         min(ts) AS from_ts, count(*) AS n_events
                  FROM r GROUP BY 1, 2, 3)
         SELECT user_id, event_type AS state,
                strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
                strftime(lead(from_ts) OVER (PARTITION BY user_id ORDER BY run_id),
                         '%Y-%m-%d %H:%M:%S') AS valid_to,
                n_events
         FROM runs""",
    "q77_hourly_kmv" ->
      """WITH h AS (SELECT DISTINCT
                    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                    md5(CAST(user_id AS VARCHAR)) AS h
               FROM events
               WHERE user_id IS NOT NULL),
         r AS (SELECT hour_start, h,
                      row_number() OVER (PARTITION BY hour_start ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY hour_start) AS nd
               FROM h)
         SELECT hour_start,
           round(CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
                 ELSE 63.0 / (CAST(('0x'||substr(h,1,8)) AS BIGINT) / 4294967296.0)
                 END, 4) AS est_users,
           CAST(nd AS BIGINT) AS n_users
         FROM r WHERE rn = least(nd, 64)""",
    "q70_attribution_batch" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
                    epoch_us(ts) AS click_us
               FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id,
                    epoch_us(ts) AS purchase_us, value
               FROM events WHERE event_type = 'purchase')
         SELECT p.purchase_id, c.click_id, c.user_id, round(p.value, 2) AS value
         FROM c JOIN p ON c.user_id = p.user_id
         WHERE p.purchase_us >= c.click_us
           AND p.purchase_us <= c.click_us + 3600000000""",
    "q59_rollup" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS n, round(sum(value),2) AS total_value
         FROM events GROUP BY ROLLUP(1, 2)""",
    "q57_asof_join" ->
      """SELECT event_id, user_id, prior_purchase FROM (
           SELECT event_id, user_id, event_type,
                  round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2) AS prior_purchase
           FROM events)
         WHERE event_type = 'click'""",
    "q28_incremental_watermark" ->
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS total_value
         FROM events WHERE ts > TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1""",
    "q29_hourly_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type, count(*) AS n, round(sum(value),2) AS total_value
         FROM events GROUP BY 1,2""",
    "q30_sessionize" ->
      """WITH g AS (
           SELECT user_id,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
           FROM events)
         SELECT user_id,
                CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800*1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                count(*) AS n_events
         FROM g GROUP BY 1""",
    "q31_props_extract" ->
      """SELECT event_type,
         CAST(sum(TRY_CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT)) AS BIGINT) AS k_sum,
         count(TRY_CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT)) AS k_cnt
         FROM events GROUP BY 1""",
    "q32_upsert_latest" ->
      """SELECT user_id, event_type AS last_event,
                strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1"""
  )
}
