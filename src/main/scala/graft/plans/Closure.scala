package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.util.Materialize

/** Iterative transitive closure — the `wdt:P279*` property path
  * (sparql/wikidata-city.sparql:6, wikidata-organization.sparql:5).
  *
  * Spark has no recursive-query operator, so every operator here is one
  * semi-naive walk driven from the caller by the private [[walk]]:
  *
  *  - '''Walk shape.''' Over a `(src, dst)` edge table, the frontier is a
  *    set of rows `(carried columns…, current endpoint)`. Each round joins
  *    the frontier's endpoint to `src` and emits `(carried…, dst)`; the new
  *    rows become the next frontier and are unioned into the accumulator,
  *    until the frontier is empty or `maxIters` rounds have run.
  *    [[reachingTo]] walks the reversed edges from its seeds with no
  *    carried column (the seeds are part of the answer); [[rootLabels]]
  *    walks the reversed edges carrying `root`, starting from its first
  *    hop; [[ancestorPairs]] walks the forward edges carrying `node`,
  *    starting from the edge table itself.
  *  - '''Per-round cost.''' The loop-invariant edge table gets one eager
  *    lineage cut (a deep source plan — TripleStore's ~20-arm union —
  *    would otherwise be re-analyzed by every round's cut). Each round is
  *    one lazy cut ([[Materialize.lineageCut]]: a reliable checkpoint when
  *    the context has a checkpoint directory, else a local one) and ONE
  *    action, whose exact count prices the next round's broadcasts: the
  *    frontier is broadcast when under the cap, else the edge table
  *    (counted once, the first time a frontier outgrows the cap) when it
  *    is; the accumulator side of an anti-join likewise.
  *  - '''General rules''' (the default): each round deduplicates its rows
  *    and anti-joins the accumulator, so diamonds cannot blow the frontier
  *    up and cycles terminate.
  *  - '''Forest rules''' (`functionalEdges`: each src has at most one
  *    dst): a forest frontier never revisits a row, so the per-round
  *    anti-join — one shuffle per round — is skipped except every
  *    [[CycleGuardEvery]]-th round, and a terminal `distinct` restores
  *    set semantics (two seeds on one root path, rho-shaped cycles cut by
  *    `maxIters`). A walk still running after [[TwoHopSwitch]] rounds
  *    builds `edges ⋈ edges` once and strides two hops per round: the
  *    round emits the skip layer (via `edges`) and the next frontier (via
  *    `edges ⋈ edges`) parity-tagged in one frame, whose ≤2-row
  *    `groupBy-count` is the round's one action. Shallow hierarchies (the
  *    reference data is depth ≤ 4) finish before the switch and never
  *    pay the build; on a forest `|edges ⋈ edges| ≤ |edges|`, so it cannot
  *    blow up (hub fan-out graphs can square; that is why the general
  *    rules stay single-hop). [[reachingTo]] and [[ancestorPairs]] keep a
  *    per-round `distinct` under the forest rules too (it absorbs
  *    duplicate input edges); [[rootLabels]] deduplicates its edges once,
  *    in their eager cut, instead, so its forest rounds run without any
  *    exchange.
  *  - '''Small graphs finish on the driver.''' Before any round, one
  *    bounded collect ([[collectUpTo]]) fetches the edge table. When it
  *    holds at most [[LocalMaxRows]] rows, the same rounds run on the
  *    driver ([[walkLocal]]) and the answer comes back as a local
  *    relation; a larger table takes the distributed loop above.
  */
object Closure {

  /** The row cap under which an exact-counted side is hint-broadcast. */
  private[graft] val BroadcastMaxRows = 500000L

  /** Broadcast `df` when its exact row count is at most `cap`: the count
    * an iterative loop already takes each round prices the hint, so no
    * stats machinery is trusted mid-loop and a huge side falls back to a
    * shuffle join instead of forcing a driver-side broadcast build. */
  private[graft] def hintIf(df: DataFrame, rows: Long,
                            cap: Long = BroadcastMaxRows): DataFrame =
    if (rows <= cap) broadcast(df) else df

  /** The row cap under which a fixpoint finishes on the driver: the walk
    * (and q249's HITS) collects its edge table once and iterates locally
    * when the table has at most this many rows, and the walk also stays
    * local only while its accumulated answer does. Each distributed round
    * costs a scheduled job or two whatever its size, so at this scale the
    * round trips, not the rows, are the cost. Driver memory bounds the
    * cap: 100 000 edges of two short strings are about 20–30 MB as
    * collected `Row`s, and the answer, its hash set and the local
    * relation built from it are of the same order, well inside the 2 GB
    * smallest driver heap in use. */
  private[graft] val LocalMaxRows = 100000

  /** `df`'s rows when it has at most `cap`, else None. One bounded
    * collect (`limit(cap + 1)`) both sizes and fetches the table, so the
    * choice follows the rows actually there, never a scale factor. */
  private[graft] def collectUpTo(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }

  /** One-job probe: true iff every src has at most one distinct dst (the
    * edge relation is a forest/functional relation). Lets callers that
    * cannot promise functionality — e.g. the SPARQL text front-end handed
    * an arbitrary predicate — VERIFY it and unlock the forest rules.
    * Cost: one aggregate over the edge table; saving: one anti-join
    * shuffle per round plus half the rounds past the stride switch. */
  def isFunctional(edges: DataFrame): Boolean =
    edges.groupBy("src").agg(countDistinct("dst").as("__n"))
      .filter(col("__n") > 1).isEmpty

  /** All nodes from which some seed is reachable by following src→dst edges
    * zero or more times (reflexive: includes the seeds).
    *
    * @param edges DataFrame with columns (src, dst)
    * @param seeds DataFrame with column (node)
    * @param functionalEdges set true when each src has at most one dst (a
    *   forest, e.g. containment hierarchies) to walk under the forest
    *   rules (see object doc). Leave false for general graphs (diamonds
    *   need the per-round anti-join to avoid exponential frontier blowup,
    *   not just a final dedup). Use [[isFunctional]] to probe when the
    *   caller cannot promise.
    * @param twoHopAfterRounds forest-rule rounds before the two-hop stride
    *   (negative: [[TwoHopSwitch]])
    * @param localMaxRows the driver-side cap (see [[LocalMaxRows]]); 0
    *   always takes the distributed loop
    * @return DataFrame with column (node), distinct
    */
  def reachingTo(edges: DataFrame, seeds: DataFrame, maxIters: Int = 50,
                 functionalEdges: Boolean = false,
                 broadcastMaxRows: Long = BroadcastMaxRows,
                 twoHopAfterRounds: Int = -1,
                 localMaxRows: Int = LocalMaxRows): DataFrame =
    walk(reversed(edges), _ => seeds.select(col("node")), maxIters,
      functionalEdges, broadcastMaxRows, twoHopAfterRounds, localMaxRows)

  /** (node, root) for every node from which some root is reachable by a
    * non-empty path: DOWNWARD label propagation from the root set instead
    * of full ancestor-pair materialization. A root-restricted ancestor
    * query (q17's "which region does each node roll up to") needs exactly
    * these pairs; walking them directly keeps total frontier volume at
    * O(n) on a forest, where [[ancestorPairs]]-then-filter materializes
    * O(n·depth) pairs and discards most of them. The root set joins the
    * edges unhinted (Spark's size estimate plans that one join), so a
    * huge root set is never forced into a broadcast. */
  def rootLabels(edges: DataFrame, roots: DataFrame, maxIters: Int = 50,
                 functionalEdges: Boolean = false,
                 broadcastMaxRows: Long = BroadcastMaxRows,
                 localMaxRows: Int = LocalMaxRows): DataFrame = {
    val r = roots.select(col("node").as("root"))
    walk(reversed(edges),
      e => e.join(r, e("src") === r("root")).select(r("root"), e("dst").as("node")),
      maxIters, functionalEdges, broadcastMaxRows, twoHopAfterRounds = -1,
      localMaxRows, dedupForest = false)
      .select(col("node"), col("root"))
  }

  /** Transitive ancestor pairs: (node, anc) for every non-empty path
    * node →+ anc. Add the reflexive pairs at the call site if `*` semantics
    * (rather than `+`) are needed.
    *
    * @param functionalEdges same promise as [[reachingTo]]: on a forest
    *   each (node, anc) pair has a unique path length, so rounds never
    *   re-derive a pair.
    */
  def ancestorPairs(edges: DataFrame, maxIters: Int = 50,
                    functionalEdges: Boolean = false,
                    broadcastMaxRows: Long = BroadcastMaxRows,
                    twoHopAfterRounds: Int = -1,
                    localMaxRows: Int = LocalMaxRows): DataFrame =
    walk(edges.select(col("src"), col("dst")),
      e => e.select(col("src").as("node"), col("dst").as("anc")), maxIters,
      functionalEdges, broadcastMaxRows, twoHopAfterRounds, localMaxRows)

  /** The forest rules' periodic cycle guard. The forest rules skip the
    * per-round anti-join because forest frontiers never revisit — but
    * `isFunctional` is also true for CYCLIC functional relations (rings,
    * symmetric pairs like spouse), whose frontier then never empties and
    * burns all `maxIters` rounds. Every `CycleGuardEvery` rounds the step
    * anti-joins the accumulator anyway — a no-op on real forests
    * (semi-naive safety: removing already-found rows never loses
    * answers), and a terminator within one period on cycles. */
  private val CycleGuardEvery = 8

  /** Rounds of single-hop walking before a still-running forest walk
    * builds `edges ⋈ edges` and strides two hops per round. Measured at
    * sf0.1 (q16, depth 4): the build costs ~1.5-2.7 s — worth ~4-6 single
    * rounds — so shallow containment hierarchies must NOT pay it, and a
    * threshold at exactly the data's depth pays it on the final EMPTY
    * round (the worst case: full price, zero rounds saved). Every fixed
    * threshold gambles at its own boundary; 6 puts the reference-shaped
    * data (depth ≤ 4, frontier empties at round 4) two rounds clear of
    * the trap, and a depth-20 chain still halves its remaining 14
    * rounds. */
  private val TwoHopSwitch = 6

  /** Parity tag of a stride round: true marks the next frontier (two
    * hops), false the skip layer (one hop). */
  private val Even = "__even"

  private def reversed(edges: DataFrame): DataFrame =
    edges.select(col("dst").as("src"), col("src").as("dst"))

  /** Exactly-two-hop edges (a→c with a→b→c): the stride-2 step relation. */
  private def twoHop(e: DataFrame): DataFrame = {
    val r = e.select(col("src").as("__mid"), col("dst").as("__dst2"))
    e.join(r, e("dst") === r("__mid"))
      .select(e("src").as("src"), col("__dst2").as("dst"))
  }

  /** The one semi-naive round loop (see the object doc): on the driver
    * when the edge table and the answer fit under `localMaxRows`, else
    * distributed.
    *
    * @param edges the oriented (src, dst) table the walk follows
    * @param start the first frontier, built from the (cut or collected)
    *   edge table; its last column is the endpoint, the others are
    *   carried. Part of the answer.
    * @param dedupForest keep the per-round `distinct` under the forest
    *   rules (the general rules always deduplicate); without it the edge
    *   cut is deduplicated instead
    */
  private def walk(edges: DataFrame, start: DataFrame => DataFrame,
                   maxIters: Int, forest: Boolean, broadcastMaxRows: Long,
                   twoHopAfterRounds: Int, localMaxRows: Int,
                   dedupForest: Boolean = true): DataFrame = {
    val strideAfter = if (twoHopAfterRounds >= 0) twoHopAfterRounds else TwoHopSwitch
    walkLocal(edges, start, maxIters, forest, strideAfter, localMaxRows)
      .getOrElse(walkDistributed(edges, start, maxIters, forest,
        broadcastMaxRows, strideAfter, dedupForest))
  }

  /** [[walk]] on the driver, row for row what the distributed loop returns
    * for the same `maxIters` (see [[localRounds]]). None when the edge
    * table, the start rows or the accumulated answer outgrow `cap`, or
    * when the start endpoint and the edges differ in type (Spark would
    * compare them after a cast). */
  private def walkLocal(edges: DataFrame, start: DataFrame => DataFrame,
                        maxIters: Int, forest: Boolean, strideAfter: Int,
                        cap: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    for {
      rows <- collectUpTo(edges, cap)
      first = start(spark.createDataFrame(rows.toSeq.asJava, edges.schema))
      if edges.schema.forall(_.dataType == first.schema.last.dataType)
      starts <- collectUpTo(first, cap)
      answer <- localRounds(rows, starts, maxIters, forest, strideAfter, cap)
    } yield spark.createDataFrame(answer.map(Row.fromSeq).asJava,
      StructType(first.schema.map(_.copy(nullable = true))))
  }

  /** The distributed rounds replayed over collected (src, dst) `edges`
    * from the `starts` rows: the same cycle-guard rounds and stride
    * schedule (a stride round emits the one-hop layer and moves the
    * frontier two hops), with the same null semantics (a null endpoint
    * never joins an edge; the anti-join against the accumulator is
    * null-safe, so a row holding a null matches itself). Rounds work on
    * sets: every multiset the distributed forest rounds carry ends in the
    * terminal `distinct`, and a duplicate row only ever derives
    * duplicates. None once the accumulated answer outgrows `cap`. */
  private def localRounds(edges: Array[Row], starts: Array[Row], maxIters: Int,
                          forest: Boolean, strideAfter: Int,
                          cap: Int): Option[Seq[Vector[Any]]] = {
    type R = Vector[Any]
    val succ: Map[Any, Seq[Any]] = edges.toSeq.filter(!_.isNullAt(0))
      .groupMap(_.get(0))(_.get(1)).view.mapValues(_.distinct).toMap
    lazy val succ2 = succ.view.mapValues(_.flatMap(succ.getOrElse(_, Nil)).distinct).toMap
    val acc = mutable.ArrayBuffer.empty[R]
    val seen = mutable.HashSet.empty[R]
    def add(rs: Seq[R]): Unit = { acc ++= rs; seen ++= rs }
    var frontier: Seq[R] = starts.toSeq.map(_.toSeq.toVector).distinct
    add(frontier)
    var i = 0
    while (i < maxIters && frontier.nonEmpty && acc.size <= cap) {
      val antiJoin = !forest || i % CycleGuardEvery == CycleGuardEvery - 1
      def hop(rel: Map[Any, Seq[Any]]): Seq[R] =
        frontier.flatMap(r => rel.getOrElse(r.last, Nil).map(r.init :+ _)).distinct
          .filter(r => !antiJoin || !seen(r))
      val stride = forest && i >= strideAfter
      val one = hop(succ)
      val two = if (stride) hop(succ2) else Nil
      add(one)
      add(two)
      frontier = if (stride) two else one
      i += 1
    }
    if (acc.size > cap) None else Some(if (forest) acc.distinct.toSeq else acc.toSeq)
  }

  /** `rows` without those that equal a `seen` row on `cols`, nulls
    * included (`<=>`): a row holding a null is found in the accumulator
    * like any other, so a cycle through it ends instead of re-deriving it
    * every round until `maxIters`. */
  private def unseen(rows: DataFrame, seen: DataFrame, cols: Seq[String]): DataFrame = {
    val s = seen.select(cols.map(c => col(c).as(s"__seen_$c")): _*)
    rows.join(s, cols.map(c => col(c) <=> col(s"__seen_$c")).reduce(_ && _), "left_anti")
  }

  /** [[walk]]'s distributed loop. */
  private def walkDistributed(edges: DataFrame, start: DataFrame => DataFrame,
                              maxIters: Int, forest: Boolean,
                              broadcastMaxRows: Long, strideAfter: Int,
                              dedupForest: Boolean): DataFrame = {
    // without per-round dedup a doubled edge would double every frontier
    // row through it, hop after hop: dedup the edges once, in the cut
    val e = Materialize.lineageCut(
      if (forest && !dedupForest) edges.distinct() else edges, eager = true)
    lazy val edgeRows = e.count() // only once a frontier outgrows the cap
    lazy val e2 = Materialize.persist(twoHop(e)) // built on the first stride round
    var acc = Materialize.lineageCut(start(e).distinct(), eager = false)
    val cols = acc.columns.toSeq
    val cur = cols.last
    var accRows = acc.count()
    var frontier = acc
    var frontierRows = accRows
    var i = 0
    while (i < maxIters && frontierRows > 0) {
      val stride = forest && i >= strideAfter
      val broadcastFrontier = frontierRows <= broadcastMaxRows
      val f = if (broadcastFrontier) broadcast(frontier) else frontier
      // one hop over `rel` (the edges, or edges ⋈ edges on a stride round);
      // on a forest |edges ⋈ edges| ≤ |edges|, so one count prices both
      def hop(rel: DataFrame): DataFrame = {
        val r = if (broadcastFrontier) rel else hintIf(rel, edgeRows, broadcastMaxRows)
        r.join(f, rel("src") === frontier(cur))
          .select(cols.init.map(frontier(_)) :+ rel("dst").as(cur): _*)
      }
      val stepped =
        if (!stride) hop(e)
        else hop(e).withColumn(Even, lit(false))
          .unionByName(hop(e2).withColumn(Even, lit(true)))
      val deduped = if (forest && !dedupForest) stepped else stepped.distinct()
      val next = Materialize.lineageCut(
        if (forest && i % CycleGuardEvery != CycleGuardEvery - 1) deduped
        else unseen(deduped, hintIf(acc, accRows, broadcastMaxRows), cols),
        eager = false)
      // One action per round: it materializes the lazy cut AND answers the
      // emptiness question. acc stays a union of already-cut frontiers —
      // re-cutting it each round would rewrite O(total) per round.
      if (!stride) {
        frontierRows = next.count()
        accRows += frontierRows
        acc = acc.unionByName(next)
        frontier = next
      } else {
        val sizes = next.groupBy(col(Even)).count().collect()
          .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        frontierRows = sizes.getOrElse(true, 0L)
        accRows += sizes.values.sum
        acc = acc.unionByName(next.select(cols.map(col): _*))
        frontier = next.filter(col(Even)).select(cols.map(col): _*)
      }
      i += 1
    }
    if (forest) acc.distinct() else acc
  }
}
