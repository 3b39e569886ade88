package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Materialize

/** Sketch-prefiltered EXACT analytics — the two-phase pattern 100 TB
  * forces whenever the naive answer needs a global sort or an unbounded
  * hash table: a bounded-memory first pass (a mergeable sketch or a
  * coarse histogram) shrinks the problem to a provably-sufficient
  * candidate set, and a second exact pass over ONLY that set produces a
  * deterministic, oracle-matchable answer. Unlike approx_count_distinct /
  * approxQuantile, nothing here is approximate in the OUTPUT — the sketch
  * only prunes, so the result hash-matches a plain-SQL oracle.
  *
  * Every operator is a LIBRARY function over caller-supplied frames (the
  * q193 parameterization convention); the qNNN entries are thin fixture
  * wrappers that bind the TESTDATA tables. A seeded property net
  * (SketchPropertySpec) drives the cores over generated frames —
  * constant, two-point, uniform, skewed — against brute-force replays.
  */
object SketchOps {

  // ------------------------------------------------------- heavy hitters

  /** Misra–Gries summary of one partition's term stream with `cap`
    * counters: bounded memory, and any term whose LOCAL frequency exceeds
    * n_p/cap survives. Pigeonhole lifts that to the global guarantee the
    * exact pass needs: if a term's global count exceeds n/cap then its
    * local count exceeds n_p/cap in at least one partition (otherwise
    * summing the per-partition bounds caps the global count at n/cap), so
    * the union of per-partition survivors is a superset of every global
    * heavy hitter. */
  private[graft] def misraGries(cap: Int, it: Iterator[String]): Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      counts.get(t) match {
        case Some(c) => counts.update(t, c + 1)
        case None if counts.size < cap => counts.update(t, 1L)
        case None =>
          // decrement-all step; keys snapshotted so removal is safe
          counts.keysIterator.toArray.foreach { key =>
            val c = counts(key) - 1
            if (c == 0L) counts.remove(key) else counts.update(key, c)
          }
      }
    }
    counts.keysIterator
  }

  /** Exact heavy hitters (terms with count > n/k) over a `term` column,
    * via the two-phase Misra–Gries pattern: pass 1 is a shuffle-free
    * mapPartitions sketch (bounded to k counters per partition —
    * mapPartitions is justified here exactly as for codec init: the
    * sketch's decrement step is genuinely imperative state no Column
    * expression carries); the survivors union to ≤ k·partitions candidate
    * terms, which broadcast into pass 2's exact count of candidates ONLY.
    * Output = exact counts filtered by the global threshold —
    * deterministic regardless of how rows were partitioned, because the
    * candidate set is a guaranteed superset and the final counts/filter
    * are exact. At 100 TB the unbounded term-cardinality groupBy never
    * happens; the only full shuffle keys on a candidate set of at most a
    * few thousand terms. */
  def heavyHitters(terms: DataFrame, k: Int): DataFrame = {
    val s = terms.sparkSession
    import s.implicits._
    val tokens = Materialize.persist(terms.select(col("term")))
    val n = tokens.count() // materializes the persist; total for the threshold
    val candidates = tokens.as[String]
      .mapPartitions(misraGries(k, _))
      .toDF("term").distinct()
    tokens.join(broadcast(candidates), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") > lit(n.toDouble / k))
      .withColumn("share", round(col("n") / lit(n.toDouble), 6))
  }

  /** PER-GROUP exact heavy hitters over (g, term) via the
    * [[graft.functions.MgCandidates]] typed Aggregator — the two-phase
    * pattern where the bounded-memory sketch runs INSIDE the aggregation
    * layer (map-side partials, k counters per group per partition,
    * mergeable) instead of mapPartitions, so it composes with any
    * groupBy. Phase 2 recounts the candidate (g, term) pairs exactly (a
    * semi-join against the candidate set — broadcast-sized by
    * construction: ≤k per group) and filters on the true per-group
    * threshold, which erases the sketch's partition-order sensitivity
    * from the answer. */
  def groupedHeavyHitters(terms: DataFrame, k: Int): DataFrame = {
    val tokens = Materialize.persist(terms.select(col("g"), col("term")))
    val totals = tokens.groupBy(col("g")).agg(count(lit(1)).as("gn"))
    val cand = tokens.groupBy(col("g"))
      .agg(graft.functions.MgCandidates.mgCandidates(col("term"), k).as("cands"))
      .select(col("g"), explode(col("cands")).as("term"))
    tokens.join(broadcast(cand), Seq("g", "term"), "left_semi")
      .groupBy(col("g"), col("term")).agg(count(lit(1)).as("n"))
      .join(broadcast(totals), Seq("g"))
      .filter(col("n") > col("gn") / k)
      .select(col("g"), col("term"), col("n"))
  }

  // ------------------------------------------------------ rank selection

  /** EXACT quantiles of a long `c` column without a global sort: pass 1
    * aggregates a coarse value histogram (fixed-width buckets — bounded,
    * sketch-sized); a running sum over the bucket frame locates, for each
    * target rank ceil(p·n), the one bucket containing it; pass 2
    * rank-selects inside those buckets only — a row_number window
    * partitioned per target, over ~n/buckets rows each. Two corpus passes
    * total, both aggregation-shaped (map-side partials), zero corpus-
    * sized sorts. The bucket-cumsum window is the only single-partition
    * window and it runs on the histogram (≤ domain/bucketW rows), not the
    * data — the same census-size class as the closure convergence reads.
    * Returns (p, value). */
  def exactQuantiles(values: DataFrame, ps: Seq[Double],
                     bucketW: Long = 65536L): DataFrame = {
    val s = values.sparkSession
    import s.implicits._
    val cents = values.select(col("c"))
      .withColumn("bucket", floor(col("c") / bucketW).cast("long"))
      .transform(Materialize.persist(_))
    val n = cents.count()
    val ranks = ps.map(p => (p, math.ceil(p * n).toLong)).toDF("p", "rank")
    val wcum = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)
    val targets = cents.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .withColumn("cum", sum(col("bn")).over(wcum))
      .withColumn("prior", col("cum") - col("bn"))
      .join(broadcast(ranks), col("prior") < col("rank") && col("rank") <= col("cum"))
      .select(col("p"), col("rank"), col("bucket"), col("prior"))
    val win = Window.partitionBy(col("p")).orderBy(col("c"))
    cents.join(broadcast(targets), Seq("bucket"))
      .withColumn("rn", row_number().over(win))
      .filter(col("prior") + col("rn") === col("rank"))
      .select(col("p"), col("c").as("value"))
  }

  /** Per-group exact median over (g, c) — [[exactQuantiles]]' pattern
    * composed with grouping: the histogram keys on (group, bucket), the
    * cumulative windows partition on the group (parallel across groups,
    * bucket-count-sized within), and the in-bucket rank selection
    * partitions per group. Still two aggregation-shaped corpus passes,
    * still zero global sorts, for ANY number of groups. Returns
    * (g, median). */
  def groupedMedian(values: DataFrame, bucketW: Long = 65536L): DataFrame = {
    val cents = values.select(col("g"), col("c"))
      .withColumn("bucket", floor(col("c") / bucketW).cast("long"))
      .transform(Materialize.persist(_))
    val ranks = cents.groupBy(col("g")).agg(count(lit(1)).as("gn"))
      .select(col("g"), ceil(col("gn") / 2.0).cast("long").as("rank"))
    val wcum = Window.partitionBy(col("g")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val targets = cents.groupBy(col("g"), col("bucket")).agg(count(lit(1)).as("bn"))
      .withColumn("cum", sum(col("bn")).over(wcum))
      .withColumn("prior", col("cum") - col("bn"))
      .join(ranks, Seq("g"))
      .filter(col("prior") < col("rank") && col("rank") <= col("cum"))
      .select(col("g"), col("bucket"), col("prior"), col("rank"))
    val win = Window.partitionBy(col("g")).orderBy(col("c"))
    cents.join(broadcast(targets), Seq("g", "bucket"))
      .withColumn("rn", row_number().over(win))
      .filter(col("prior") + col("rn") === col("rank"))
      .select(col("g"), col("c").as("median"))
  }

  /** Equal-frequency discretization of a long `c` column — the feature-
    * engineering consumer of [[exactQuantiles]]: the internal boundaries
    * come from the two-pass exact-quantile plan, collect as a census read
    * (the ranks-frame class), and bin assignment is then |ps| codegen'd
    * comparisons inside the scan — `Σ [c > bᵢ]` over the boundary
    * MULTISET, so duplicate boundaries (a value straddling several
    * quantiles) bin identically on both engines. No ntile(), whose tie
    * order is nondeterministic; no global sort anywhere. Returns
    * (bin, n, lo, hi). */
  def equifreqBins(values: DataFrame, ps: Seq[Double],
                   bucketW: Long = 65536L): DataFrame = {
    val vals = Materialize.persist(values.select(col("c")))
    val bvals = exactQuantiles(vals, ps, bucketW)
      .select(col("value")).collect().map(_.getLong(0))
    val bin = bvals.map(b => when(col("c") > b, 1L).otherwise(0L))
      .reduce(_ + _)
    vals
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), min(col("c")).as("lo"), max(col("c")).as("hi"))
  }

  // ----------------------------------------------------- budget curation

  /** Budget-prefix curation over (id, score, w): select rows in
    * (score desc, id) order while the running weight total stays within
    * `frac` of the grand total — the greedy-prefix data-selection step
    * behind "keep the best B tokens". The running total over a
    * corpus-wide order is the scale hazard; it computes here as the
    * bucketed two-phase prefix sum: per-row cumsum windows partition on
    * the score bucket (floor(score·1000) — monotone in the sort key, so
    * bucket-desc-then-in-bucket order IS the global order), and only the
    * per-bucket offset table sees a single-partition window. Returns
    * (id, score, w, cum). */
  def budgetPrefix(scored: DataFrame, frac: Double): DataFrame = {
    val in = scored.select(col("id"), col("score"), col("w"))
      .withColumn("sb", floor(col("score") * 1000).cast("long"))
      .transform(Materialize.persist(_))
    val budget = in.agg(floor(sum(col("w")) * frac).cast("long").as("budget"))
    val wb = Window.orderBy(col("sb").desc).rowsBetween(Window.unboundedPreceding, 0)
    val offsets = in.groupBy(col("sb")).agg(sum(col("w")).as("bsum"))
      .withColumn("offset", sum(col("bsum")).over(wb) - col("bsum"))
      .select(col("sb"), col("offset"))
    val win = Window.partitionBy(col("sb")).orderBy(col("score").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    in.join(broadcast(offsets), Seq("sb"))
      .withColumn("cum", col("offset") + sum(col("w")).over(win))
      .crossJoin(broadcast(budget))
      .filter(col("cum") <= col("budget"))
      .select(col("id"), col("score"), col("w"), col("cum"))
  }

  /** Per-group budget-prefix curation over (g, id, score, w): every
    * group independently keeps its (score desc, id) prefix within `frac`
    * of ITS weight total — the per-source form of [[budgetPrefix]] (each
    * source capped at a share of its own mass, the shape source-balanced
    * curation actually wants). Grouping makes the plan STRICTLY more
    * scalable than the global form: the bucket-offset cumsum partitions
    * per group (no single-partition window anywhere), and the per-row
    * windows partition on (group, bucket). Returns (g, id, score, w,
    * cum). */
  def groupedBudgetPrefix(scored: DataFrame, frac: Double): DataFrame = {
    val in = scored.select(col("g"), col("id"), col("score"), col("w"))
      .withColumn("sb", floor(col("score") * 1000).cast("long"))
      .transform(Materialize.persist(_))
    val budgets = in.groupBy(col("g"))
      .agg(floor(sum(col("w")) * frac).cast("long").as("budget"))
    val wb = Window.partitionBy(col("g")).orderBy(col("sb").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val offsets = in.groupBy(col("g"), col("sb")).agg(sum(col("w")).as("bsum"))
      .withColumn("offset", sum(col("bsum")).over(wb) - col("bsum"))
      .select(col("g"), col("sb"), col("offset"))
    val win = Window.partitionBy(col("g"), col("sb"))
      .orderBy(col("score").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    in.join(broadcast(offsets), Seq("g", "sb"))
      .withColumn("cum", col("offset") + sum(col("w")).over(win))
      .join(broadcast(budgets), Seq("g"))
      .filter(col("cum") <= col("budget"))
      .select(col("g"), col("id"), col("score"), col("w"), col("cum"))
  }

  // ------------------------------------------------- fixture query board

  /** q228: [[heavyHitters]] (k=50) over the document token stream. */
  def q228HeavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHitters(
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= ""),
      k = 50)

  /** q240: [[groupedHeavyHitters]] (k=25 — BELOW the fixture vocabulary,
    * so the MG decrement path genuinely fires) per document source. */
  def q240GroupedHeavyHitters(s: SparkSession, dir: String): DataFrame =
    groupedHeavyHitters(
      Tables.documents(s, dir)
        .select(col("source").as("g"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= ""),
      k = 25)
      .select(col("g").as("source"), col("term"), col("n"))

  /** q229: [[exactQuantiles]] of l_extendedprice in integer cents. */
  def q229ExactQuantiles(s: SparkSession, dir: String): DataFrame =
    exactQuantiles(
      Tables.lineitem(s, dir)
        .select(round(col("l_extendedprice") * 100).cast("long").as("c")),
      ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99))
      .select(col("p"), col("value").as("value_cents"))

  /** q237: [[groupedMedian]] of cents per l_returnflag. */
  def q237GroupedMedian(s: SparkSession, dir: String): DataFrame =
    groupedMedian(
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("c")))
      .select(col("g").as("l_returnflag"), col("median").as("median_cents"))

  /** q239: [[equifreqBins]] deciles of cents. */
  def q239EquifreqBins(s: SparkSession, dir: String): DataFrame =
    equifreqBins(
      Tables.lineitem(s, dir)
        .select(round(col("l_extendedprice") * 100).cast("long").as("c")),
      ps = (1 to 9).map(_ / 10.0))

  /** q231: [[budgetPrefix]] at 60% of corpus chars, scored by q40's
    * oracled quality definition. */
  def q231BudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val nToks = size(col("toks")).cast("long")
    val nStop = expr("size(filter(toks, t -> t IN ('the','a','of','and')))").cast("long")
    budgetPrefix(
      Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id").as("id"), col("n_chars").as("w"),
          round(least(lit(1.0), nToks / 100.0) * (lit(1.0) - nStop / nToks), 4)
            .as("score")),
      frac = 0.6)
      .select(col("id").as("doc_id"), col("score"),
        col("w").as("n_chars"), col("cum").as("cum_chars"))
  }

  /** q246: [[groupedBudgetPrefix]] — each source keeps its best docs up
    * to 60% of its own character mass (q231's global form, per source). */
  def q246GroupedBudget(s: SparkSession, dir: String): DataFrame = {
    val nToks = size(col("toks")).cast("long")
    val nStop = expr("size(filter(toks, t -> t IN ('the','a','of','and')))").cast("long")
    groupedBudgetPrefix(
      Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(col("source").as("g"), col("doc_id").as("id"),
          col("n_chars").as("w"),
          round(least(lit(1.0), nToks / 100.0) * (lit(1.0) - nStop / nToks), 4)
            .as("score")),
      frac = 0.6)
      .select(col("g").as("source"), col("id").as("doc_id"),
        col("score"), col("w").as("n_chars"), col("cum").as("cum_chars"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q246_grouped_budget" -> q246GroupedBudget _,
    "q228_heavy_hitters"  -> q228HeavyHitters _,
    "q229_exact_quantiles" -> q229ExactQuantiles _,
    "q231_budget_select"  -> q231BudgetSelect _,
    "q237_grouped_median" -> q237GroupedMedian _,
    "q239_equifreq_bins"  -> q239EquifreqBins _,
    "q240_grouped_heavy_hitters" -> q240GroupedHeavyHitters _
  )

  val oracles: Map[String, String] = Map(
    "q246_grouped_budget" ->
      """WITH t AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS toks
                    FROM documents),
         sc AS (SELECT doc_id, source, n_chars,
                  round(least(1.0, len(toks) / 100.0) *
                        (1.0 - len(list_filter(toks, x -> x IN ('the','a','of','and')))
                               / CAST(len(toks) AS DOUBLE)), 4) AS score
                FROM t),
         b AS (SELECT source, CAST(floor(sum(n_chars) * 0.6) AS BIGINT) AS budget
               FROM sc GROUP BY 1),
         c AS (SELECT doc_id, source, score, n_chars,
                      CAST(sum(n_chars) OVER (PARTITION BY source
                        ORDER BY score DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                        AS cum_chars
               FROM sc)
         SELECT c.source, doc_id, score, n_chars, cum_chars
         FROM c JOIN b ON c.source = b.source
         WHERE cum_chars <= budget""",
    "q228_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         tok AS (SELECT term FROM t WHERE term <> ''),
         n AS (SELECT count(*) AS total FROM tok)
         SELECT term, count(*) AS n,
                round(count(*) / (SELECT CAST(total AS DOUBLE) FROM n), 6) AS share
         FROM tok GROUP BY term
         HAVING count(*) > (SELECT total FROM n) / 50.0""",
    "q229_exact_quantiles" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
         r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
         n AS (SELECT count(*) AS total FROM v),
         ps AS (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.9, 0.99] AS DOUBLE[])) AS p)
         SELECT ps.p, r.c AS value_cents
         FROM ps CROSS JOIN n
         JOIN r ON r.rn = CAST(ceil(ps.p * n.total) AS BIGINT)""",
    "q240_grouped_heavy_hitters" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS term
                    FROM documents),
         tok AS (SELECT source, term FROM t WHERE term <> ''),
         g AS (SELECT source, count(*) AS gn FROM tok GROUP BY 1)
         SELECT tok.source, term, count(*) AS n
         FROM tok JOIN g ON tok.source = g.source
         GROUP BY tok.source, term, g.gn
         HAVING count(*) > g.gn / 25.0""",
    "q237_grouped_median" ->
      """WITH v AS (SELECT l_returnflag AS g,
                           CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                    FROM lineitem),
         r AS (SELECT g, c,
                      row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
                      count(*) OVER (PARTITION BY g) AS gn
               FROM v)
         SELECT g AS l_returnflag, c AS median_cents
         FROM r WHERE rn = CAST(ceil(gn / 2.0) AS BIGINT)""",
    "q239_equifreq_bins" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                    FROM lineitem),
         r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
         n AS (SELECT count(*) AS total FROM v),
         ps AS (SELECT unnest(CAST([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]
                                   AS DOUBLE[])) AS p),
         b AS (SELECT r.c AS bval
               FROM ps CROSS JOIN n
               JOIN r ON r.rn = CAST(ceil(ps.p * n.total) AS BIGINT)),
         binned AS (SELECT v.c,
                      (SELECT count(*) FROM b WHERE b.bval < v.c) AS bin
                    FROM v)
         SELECT bin, count(*) AS n, min(c) AS lo, max(c) AS hi
         FROM binned GROUP BY 1""",
    "q231_budget_select" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
                    FROM documents),
         sc AS (SELECT doc_id, n_chars,
                  round(least(1.0, len(toks) / 100.0) *
                        (1.0 - len(list_filter(toks, x -> x IN ('the','a','of','and')))
                               / CAST(len(toks) AS DOUBLE)), 4) AS score
                FROM t),
         b AS (SELECT CAST(floor(sum(n_chars) * 0.6) AS BIGINT) AS budget FROM sc),
         c AS (SELECT doc_id, score, n_chars,
                      CAST(sum(n_chars) OVER (ORDER BY score DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                        AS cum_chars
               FROM sc)
         SELECT doc_id, score, n_chars, cum_chars
         FROM c CROSS JOIN b WHERE cum_chars <= budget"""
  )
}
