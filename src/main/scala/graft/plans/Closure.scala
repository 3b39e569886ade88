package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Iterative reflexive-transitive closure — the `wdt:P279*` property path
  * (sparql/wikidata-city.sparql:6, wikidata-organization.sparql:5).
  *
  * Spark has no recursive-query operator, so this is a semi-naive fixpoint
  * driven from the caller: each round joins only the NEW frontier against the
  * edge table, unions into the accumulator, and stops when the frontier is
  * empty (SURVEY.md §4.2, §7.3 "P279* closure at scale").
  *
  * Scale posture:
  *  - Lineage is cut after every round: with a configured checkpoint
  *    directory (`SparkContext.setCheckpointDir` / `spark.checkpoint.dir`)
  *    a RELIABLE checkpoint is used — the cluster posture, survives
  *    executor loss; otherwise `localCheckpoint`, the local[n] analog.
  *  - The frontier is deduplicated before the join, so hub nodes (the
  *    reference's Q515-like classes) are joined once per round, not once per
  *    in-edge.
  *  - The edge table is reused across rounds — cache it at the call site when
  *    it is not a cheap scan.
  *  - `maxIters` guards against cycles / adversarial depth.
  *  - Under `functionalEdges` a fixpoint still running after
  *    `twoHopAfterRounds` rounds builds `edges ⋈ edges` once and steps TWO
  *    hops per round, halving the remaining driver-synchronized rounds —
  *    the dominant cost of DEEP chains. Shallow hierarchies (the reference
  *    data is depth ≤ 4) finish before the switch and never pay the e2
  *    build, which measures ~2× the rounds it would save there (see
  *    docs/SCALING.md). On a forest `|edges2| ≤ |edges|`, so the
  *    precompute cannot blow up (hub-fanout graphs can square; that is
  *    why the general path stays single-hop).
  */
object Closure {

  private val debug = sys.env.contains("GRAFT_CLOSURE_DEBUG")
  private def timed[A](label: String)(body: => A): A = {
    if (!debug) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[closure] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
  }

  /** Lineage cut between rounds: reliable checkpoint when the context has a
    * checkpoint directory (the cluster posture — recomputes once to write,
    * but survives executor loss and frees driver-block memory), else
    * localCheckpoint. Both lazy; the caller's one action per round
    * materializes. */
  private def ckpt(df: DataFrame): DataFrame = Materialize.lineageCut(df, eager = false)

  /** Eager variant for the loop-invariant EDGE table. Two reasons it is
    * checkpointed rather than persisted: (1) every round's lazy ckpt
    * calls toRdd, which re-ANALYZES the edge table's full logical plan —
    * for a TripleStore-shaped input (a ~20-arm union) that is ~0.3-1 s of
    * driver-side planning PER ROUND (guide §7.3 "very large plans"),
    * while a checkpointed table plans as one leaf; (2) same
    * materialize-once economics as persist (one pass over the edges
    * either way). */
  private def ckptEager(df: DataFrame): DataFrame = Materialize.lineageCut(df, eager = true)

  /** One-job probe: true iff every src has at most one distinct dst (the
    * edge relation is a forest/functional relation). Lets callers that
    * cannot promise functionality — e.g. the SPARQL text front-end handed
    * an arbitrary predicate — VERIFY it and unlock the two-hop
    * no-anti-join fast path. Cost: one aggregate over the edge table;
    * saving: one anti-join shuffle per round plus half the rounds. */
  def isFunctional(edges: DataFrame): Boolean =
    edges.groupBy("src").agg(countDistinct("dst").as("__n"))
      .filter(col("__n") > 1).isEmpty

  /** Exactly-two-hop edges (a→c with a→b→c): the stride-2 step relation. */
  private def twoHop(e: DataFrame): DataFrame = {
    val r = e.select(col("src").as("__mid"), col("dst").as("__dst2"))
    e.join(r, e("dst") === r("__mid"))
      .select(e("src").as("src"), col("__dst2").as("dst"))
  }

  /** All nodes from which some seed is reachable by following src→dst edges
    * zero or more times (reflexive: includes the seeds).
    *
    * @param edges DataFrame with columns (src, dst)
    * @param seeds DataFrame with column (node)
    * @param functionalEdges set true when each src has at most one dst (a
    *   forest, e.g. containment hierarchies): the frontier then can never
    *   revisit a node, so the per-round anti-join against the accumulator —
    *   one extra shuffle per round — is provably a no-op and is skipped,
    *   AND the walk steps two hops per round (see object doc). Two seeds on
    *   the same root-path still produce overlapping layers, so a single
    *   terminal distinct() (one shuffle total, not per round) restores the
    *   documented contract; cycles (rho-shapes) are cut by `maxIters`, also
    *   deduplicated by the terminal distinct. Leave false for general
    *   graphs (diamonds need the per-round dedup to avoid exponential
    *   frontier blowup, not just a final dedup). Use [[isFunctional]] to
    *   probe when the caller cannot promise.
    * @return DataFrame with column (node), distinct
    */
  def reachingTo(edges: DataFrame, seeds: DataFrame, maxIters: Int = 50,
                 functionalEdges: Boolean = false,
                 broadcastMaxRows: Long = 500000L,
                 twoHopAfterRounds: Int = -1): DataFrame = {
    // The edge table is probed every round — materialize AND lineage-cut
    // it once (see ckptEager: per-round re-analysis of a deep edge plan
    // was the dominant driver cost of shallow closures).
    val e = timed("edges ckpt")(ckptEager(edges.select(col("src"), col("dst"))))
    if (functionalEdges)
      reachingToFunctional(e, seeds, maxIters, broadcastMaxRows,
        resolveSwitch(twoHopAfterRounds))
    else reachingToGeneral(e, seeds, maxIters, broadcastMaxRows)
  }

  private def resolveSwitch(explicit: Int): Int =
    if (explicit >= 0) explicit else TwoHopSwitch

  /** The functional fast path skips the per-round anti-join because forest
    * frontiers never revisit — but `isFunctional` is also true for CYCLIC
    * functional relations (rings, symmetric pairs like spouse), whose
    * frontier then never empties and burns all `maxIters` rounds. Every
    * `CycleGuardEvery` rounds the step anti-joins the accumulator anyway —
    * a no-op on real forests (semi-naive safety: removing already-found
    * rows never loses answers), and a terminator within one period on
    * cycles. */
  private val CycleGuardEvery = 8

  /** Rounds of single-hop walking before a still-running functional
    * fixpoint builds `edges ⋈ edges` and strides two hops per round.
    * Measured at sf0.1 (q16, depth 4): the e2 build costs ~1.5-2.7 s —
    * worth ~4-6 single rounds — so shallow containment hierarchies must
    * NOT pay it, and a threshold at exactly the data's depth pays it on
    * the final EMPTY round (the worst case: full price, zero rounds
    * saved). Every fixed threshold gambles at its own boundary; 6 puts
    * the reference-shaped data (depth ≤ 4, frontier empties at round 4)
    * two rounds clear of the trap while a depth-20 chain still halves its
    * remaining 14 rounds. */
  private val TwoHopSwitch = 6

  private def hintIf(df: DataFrame, rows: Long, broadcastMaxRows: Long) =
    if (rows <= broadcastMaxRows) broadcast(df) else df

  /** General-graph semi-naive fixpoint: one hop per round, per-round
    * frontier dedup and anti-join against the accumulator. */
  private def reachingToGeneral(e: DataFrame, seeds: DataFrame, maxIters: Int,
                                broadcastMaxRows: Long): DataFrame = {
    var acc = timed("seed")(ckpt(seeds.select(col("node")).distinct()))
    var accRows = acc.count()
    var frontier = acc
    var frontierRows = accRows
    var i = 0
    while (i < maxIters && frontierRows > 0) {
      // The materializing count of the previous round gives the frontier's
      // EXACT size, so the broadcast decision needs no stats machinery:
      // a small frontier broadcasts (edge side streams from cache with no
      // shuffle and no per-round sort — the dominant cost of a sort-merge
      // plan here), a huge one falls back to a shuffle join. Same for the
      // accumulator side of the anti-join.
      def hinted(df: DataFrame, rows: Long) = hintIf(df, rows, broadcastMaxRows)
      val next = timed(s"round $i ckpt") {
        ckpt(e.join(hinted(frontier, frontierRows), e("dst") === frontier("node"))
          .select(e("src").as("node")).distinct()
          .join(hinted(acc, accRows), Seq("node"), "left_anti"))
      }
      // One action per round: count() materializes the lazy checkpoint
      // AND answers the emptiness question (isEmpty would be a second
      // job). acc stays a union of already-checkpointed frontiers — re-
      // checkpointing it each round would rewrite O(total) per round.
      frontierRows = timed(s"round $i count")(next.count())
      acc = acc.unionByName(next)
      accRows += frontierRows
      frontier = next
      i += 1
    }
    acc
  }

  /** Forest fast path: no anti-join (a forest frontier can never revisit),
    * terminal distinct for multi-seed overlap, and ADAPTIVE two-hop
    * striding — the first `switchAfter` rounds walk single hops (shallow
    * hierarchies finish here on the cheapest plan); a fixpoint still
    * running then builds `edges ⋈ edges` once and steps two layers per
    * round. A stride-2 round emits the skip layer (via `edges`) and the
    * next frontier layer (via e2), parity-tagged in ONE checkpointed frame
    * so a single groupBy-count action materializes the round, prices the
    * broadcast hint, and answers emptiness. In a forest every node has a
    * unique depth from its seed's root-path, so layers stay disjoint. */
  private def reachingToFunctional(e: DataFrame, seeds: DataFrame, maxIters: Int,
                                   broadcastMaxRows: Long,
                                   switchAfter: Int): DataFrame = {
    lazy val e2 = Materialize.persist(twoHop(e)) // built on the first stride round
    var acc = timed("seed")(ckpt(seeds.select(col("node")).distinct()))
    var frontier = acc
    var frontierRows = acc.count()
    var accRows = frontierRows
    var i = 0
    def guard(stepped: DataFrame): DataFrame =
      if (i % CycleGuardEvery == CycleGuardEvery - 1)
        stepped.join(hintIf(acc, accRows, broadcastMaxRows),
          Seq("node"), "left_anti")
      else stepped
    while (i < maxIters && frontierRows > 0) {
      val f = hintIf(frontier, frontierRows, broadcastMaxRows)
      if (i < switchAfter) {
        val next = timed(s"round $i ckpt") {
          ckpt(guard(e.join(f, e("dst") === frontier("node"))
            .select(e("src").as("node")).distinct()))
        }
        frontierRows = timed(s"round $i count")(next.count())
        acc = acc.unionByName(next)
        accRows += frontierRows
        frontier = next
      } else {
        val stepped = timed(s"round2 $i ckpt") {
          ckpt(guard(e.join(f, e("dst") === frontier("node"))
            .select(e("src").as("node"), lit(false).as("__even"))
            .unionByName(e2.join(f, e2("dst") === frontier("node"))
              .select(e2("src").as("node"), lit(true).as("__even")))
            .distinct()))
        }
        // One action: materializes the checkpoint and returns both layer
        // sizes (≤ 2 rows collected).
        val sizes = timed(s"round2 $i count") {
          stepped.groupBy(col("__even")).count().collect()
            .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        }
        acc = acc.unionByName(stepped.select(col("node")))
        accRows += sizes.values.sum
        frontier = stepped.filter(col("__even")).select(col("node"))
        frontierRows = sizes.getOrElse(true, 0L)
      }
      i += 1
    }
    acc.distinct()
  }

  /** Transitive ancestor pairs: (node, anc) for every non-empty path
    * node →+ anc. Add the reflexive pairs at the call site if `*` semantics
    * (rather than `+`) are needed.
    *
    * @param functionalEdges same promise as [[reachingTo]]: on a forest
    *   each (node, anc) pair has a unique path length, so rounds never
    *   re-derive a pair — the per-round anti-join is skipped and the walk
    *   steps two hops per round; a terminal distinct restores set
    *   semantics (duplicate input edges, rho-cycles under maxIters).
    */
  /** (node, root) for every node from which some root is reachable:
    * DOWNWARD label propagation from the root set instead of full
    * ancestor-pair materialization. A root-restricted ancestor query
    * (q17's "which region does each node roll up to") needs exactly these
    * pairs; walking them directly keeps total frontier volume at O(n) on
    * a forest, where [[ancestorPairs]]-then-filter materializes
    * O(n·depth) pairs and discards most of them. Same playbook as
    * [[reachingTo]]: persisted edges, per-round lineage cut, exact-count
    * broadcast hints, one action per round; `functionalEdges` skips the
    * per-round anti-join (forest frontiers can't revisit) with the
    * periodic cycle guard + terminal distinct restoring exactness on
    * cyclic functional inputs. */
  def rootLabels(edges: DataFrame, roots: DataFrame, maxIters: Int = 50,
                 functionalEdges: Boolean = false,
                 broadcastMaxRows: Long = 500000L): DataFrame = {
    val e = timed("edges ckpt")(ckptEager(edges.select(col("src"), col("dst"))))
    // Price the root-set hint with an exact count like every other
    // fixpoint here: a huge root set (labeling from millions of roots)
    // must shuffle-join, not force a driver-side broadcast build.
    val r = ckpt(roots.select(col("node").as("__r")).distinct())
    val rRows = r.count()
    var frontier = timed("roots")(ckpt(
      e.join(hintIf(r, rRows, broadcastMaxRows), e("dst") === col("__r"))
        .select(e("src").as("node"), col("__r").as("root")).distinct()))
    var rows = frontier.count()
    var acc = frontier
    var accRows = rows
    var i = 0
    while (i < maxIters && rows > 0) {
      val f = hintIf(frontier.select(col("node").as("__fn"),
        col("root").as("__fr")), rows, broadcastMaxRows)
      val next0 = e.join(f, e("dst") === col("__fn"))
        .select(e("src").as("node"), col("__fr").as("root"))
      val guarded =
        if (!functionalEdges)
          next0.distinct().join(hintIf(acc, accRows, broadcastMaxRows),
            Seq("node", "root"), "left_anti")
        else if (i % CycleGuardEvery == CycleGuardEvery - 1)
          next0.join(hintIf(acc, accRows, broadcastMaxRows),
            Seq("node", "root"), "left_anti")
        else next0
      val next = timed(s"label round $i ckpt")(ckpt(guarded))
      rows = timed(s"label round $i count")(next.count())
      acc = acc.unionByName(next)
      accRows += rows
      frontier = next
      i += 1
    }
    if (functionalEdges) acc.distinct() else acc
  }

  def ancestorPairs(edges: DataFrame, maxIters: Int = 50,
                    functionalEdges: Boolean = false,
                    broadcastMaxRows: Long = 500000L,
                    twoHopAfterRounds: Int = -1): DataFrame = {
    val e = timed("edges ckpt")(ckptEager(edges.select(col("src"), col("dst"))))
    if (functionalEdges)
      ancestorPairsFunctional(e, maxIters, broadcastMaxRows,
        resolveSwitch(twoHopAfterRounds))
    else ancestorPairsGeneral(e, maxIters, broadcastMaxRows)
  }

  private def ancestorPairsGeneral(e: DataFrame, maxIters: Int,
                                   broadcastMaxRows: Long): DataFrame = {
    var acc = ckpt(e.select(col("src").as("node"), col("dst").as("anc")).distinct())
    var accRows = acc.count()
    val eRows = accRows // distinct(e) ≤ |e|, same magnitude — good enough
    var frontier = acc
    var frontierRows = accRows
    var i = 0
    while (i < maxIters && frontierRows > 0) {
      // Exact-count-driven broadcast, as in reachingTo: here the EDGE side
      // is the natural build side (one hop per round probes edges by src),
      // so broadcast it when small; the anti-join builds on the new rows.
      def hinted(df: DataFrame, rows: Long) = hintIf(df, rows, broadcastMaxRows)
      val next = timed(s"anc round $i ckpt") {
        ckpt(frontier.join(hinted(e, eRows), frontier("anc") === e("src"))
          .select(frontier("node"), e("dst").as("anc")).distinct()
          .join(hinted(acc, accRows), Seq("node", "anc"), "left_anti"))
      }
      frontierRows = timed(s"anc round $i count")(next.count())
      acc = acc.unionByName(next)
      accRows += frontierRows
      frontier = next
      i += 1
    }
    acc
  }

  /** Forest fast path for ancestor pairs: no anti-join, terminal distinct,
    * adaptive two-hop as in [[reachingToFunctional]]. Single-hop rounds
    * extend the frontier pairs one edge; once switched, a round emits
    * length+1 via `edges` (skip layer) and the next frontier at length+2
    * via `edges ⋈ edges`, parity-tagged in one checkpointed frame — one
    * action per round. */
  private def ancestorPairsFunctional(e: DataFrame, maxIters: Int,
                                      broadcastMaxRows: Long,
                                      switchAfter: Int): DataFrame = {
    lazy val e2 = Materialize.persist(twoHop(e)) // built on the first stride round
    var acc = ckpt(e.select(col("src").as("node"), col("dst").as("anc")).distinct())
    var frontier = acc
    var frontierRows = acc.count()
    var accRows = frontierRows
    val eRows = frontierRows
    var i = 0
    def guard(stepped: DataFrame): DataFrame =
      if (i % CycleGuardEvery == CycleGuardEvery - 1)
        stepped.join(hintIf(acc, accRows, broadcastMaxRows),
          Seq("node", "anc"), "left_anti")
      else stepped
    while (i < maxIters && frontierRows > 0) {
      if (i < switchAfter) {
        val next = timed(s"anc round $i ckpt") {
          // distinct keeps duplicate input-edge rows from amplifying
          // round-over-round (same role as the general path's per-round
          // dedup; the SAVING here is the skipped anti-join)
          ckpt(guard(frontier.join(hintIf(e, eRows, broadcastMaxRows),
              frontier("anc") === e("src"))
            .select(frontier("node"), e("dst").as("anc")).distinct()))
        }
        frontierRows = timed(s"anc round $i count")(next.count())
        acc = acc.unionByName(next)
        accRows += frontierRows
        frontier = next
      } else {
        val stepped = timed(s"anc2 $i ckpt") {
          ckpt(guard(frontier.join(hintIf(e, eRows, broadcastMaxRows),
              frontier("anc") === e("src"))
            .select(frontier("node"), e("dst").as("anc"), lit(false).as("__skip"))
            .unionByName(frontier.join(hintIf(e2, eRows, broadcastMaxRows),
              frontier("anc") === e2("src"))
              .select(frontier("node"), e2("dst").as("anc"), lit(true).as("__skip")))
            .distinct()))
        }
        val sizes = timed(s"anc2 $i count") {
          stepped.groupBy(col("__skip")).count().collect()
            .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        }
        acc = acc.unionByName(stepped.select(col("node"), col("anc")))
        accRows += sizes.values.sum
        frontier = stepped.filter(col("__skip")).select(col("node"), col("anc"))
        frontierRows = sizes.getOrElse(true, 0L)
      }
      i += 1
    }
    acc.distinct()
  }
}
