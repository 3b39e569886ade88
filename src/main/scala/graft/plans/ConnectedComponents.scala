package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Connected components by semi-naive min-label propagation — the
  * clustering step a dedup pipeline needs between near-dup PAIRS (MinHash
  * LSH, q34) and a KEEP/DROP decision: every document in a component keeps
  * the component's minimum id as its canonical representative.
  *
  * The reference's pipelines stop at per-entity worklists
  * (prosnet-prefect-pipelines render_* + id dedup); component clustering
  * is part of the training-data surface (SURVEY §5 north star), where
  * transitive near-duplicate chains (A≈B, B≈C) must collapse to ONE
  * canonical doc even when A and C never shared an LSH bucket.
  *
  * Algorithm: alternating min-label propagation. Each round every node's
  * label becomes the min of its own and its neighbors' labels; fixpoint in
  * O(component diameter) rounds. Near-dup clusters are shallow (pairs
  * come from shared buckets, so diameters of 2-4), which makes this the
  * right plan HERE; for deep path-shaped graphs the two-phase
  * large-star/small-star contraction (Kiveris et al., "Connected
  * Components in MapReduce and Beyond") halves diameters per round and
  * would replace the inner step without changing the driver loop.
  *
  * Scale posture (the Closure playbook):
  *  - the iteration runs over EDGE-TOUCHED nodes only — isolated nodes
  *    (the overwhelming majority of a lightly-duplicated corpus) never
  *    enter the loop and are labeled by one final left join. Per-round
  *    state is O(|edges|), not O(|corpus|): at 100 TB the fixpoint
  *    iterates over the near-dup graph, not a billion documents;
  *  - the symmetrized edge table is persisted once and probed per round;
  *  - lineage is cut per round (reliable checkpoint under a configured
  *    checkpoint dir, else localCheckpoint);
  *  - each round is ONE join + ONE aggregation shuffle on `node`, and the
  *    fixpoint test rides the same action: labels only ever decrease, so
  *    the label-table SUM (exact, DECIMAL(38)) is strictly monotone and
  *    "sum unchanged" == "no label changed" — no convergence join at all.
  */
object ConnectedComponents {

  /** Component labels for every node in `nodes`.
    *
    * @param edges (src, dst) pairs in either orientation (symmetrized here)
    * @param nodes (node) — the full domain; isolated nodes label themselves.
    *   Edge endpoints must be a subset of `nodes` (otherwise a component's
    *   canonical label could be an id outside the domain); a violation
    *   raises at action time rather than corrupting
    * @param maxIters cycle/adversarial-depth guard
    * @param algorithm "auto" (default) starts with min-label propagation
    *   — O(diameter) rounds, the right plan for the shallow LSH pair
    *   graphs dedup produces — and, if the fixpoint hasn't landed after
    *   [[AutoSwitchRound]] rounds (direct evidence the diameter is deep),
    *   abandons it for the star contraction and logs the switch. Forcing
    *   "min-label" keeps propagating to maxIters; "star" — alternating
    *   large-star/small-star contraction (Kiveris et al., "Connected
    *   Components in MapReduce and Beyond"), which roughly halves
    *   component diameters per round: O(log d) rounds on the deep
    *   path-shaped components crawler mirror farms chain together. All
    *   produce identical labels (min id per component, any orderable
    *   type); the star path raises if maxIters is hit before the star
    *   fixpoint (a partially contracted graph has no correct reading).
    * @param uniqueNodes caller PROMISE that `nodes` carries no duplicate
    *   rows (a primary key, a groupBy output, another CC's labels…): the
    *   terminal domain join then skips its defensive `distinct()` — at
    *   corpus scale that distinct is a full extra exchange of the node
    *   set for nothing. Identical output for unique inputs; a violated
    *   promise duplicates output rows instead of deduplicating them
    *   (`ConnectedComponentsSpec` checks every caller's promise).
    * @return (node, component) — component = min node id reachable over
    *         the undirected pair graph, deterministic under re-runs
    */
  def labels(edges: DataFrame, nodes: DataFrame, maxIters: Int = 50,
             algorithm: String = "auto",
             uniqueNodes: Boolean = false): DataFrame = {
    algorithm match {
      case "auto" => minLabelPropagation(edges, nodes, maxIters,
        switchAfter = Some(AutoSwitchRound), uniqueNodes = uniqueNodes)
      case "min-label" => minLabelPropagation(edges, nodes, maxIters,
        uniqueNodes = uniqueNodes)
      case "star" => starContraction(edges, nodes, maxIters, uniqueNodes)
      case other => sys.error(
        s"unknown algorithm '$other' (expected 'auto', 'min-label' or 'star')")
    }
  }

  /** Rounds of un-converged min-label propagation "auto" tolerates before
    * concluding the graph is deep and switching to star contraction. 8
    * covers every diameter an LSH bucket graph realistically produces
    * (pairs share buckets, so diameters run 2–4) with margin; past it,
    * propagation needs diameter-many MORE rounds while the contraction
    * needs ~log₂(diameter) total — restarting is already the cheaper
    * path at diameter ≳ 16. */
  private val AutoSwitchRound = 8

  /** Terminal domain join shared by both algorithms: isolated nodes
    * self-label; the full-outer shape (same shuffle as a left join)
    * additionally detects edge endpoints ABSENT from `nodes` — those
    * would make a component's canonical min-label an id outside the
    * caller's domain, silently breaking keep = (node == component)
    * consumers — and refuses at action time via raise_error, costing
    * zero extra jobs. */
  private def attachDomain(lab: DataFrame, nodes: DataFrame,
                           uniqueNodes: Boolean): DataFrame = {
    (if (uniqueNodes) nodes.select(col("node"))
     else nodes.select(col("node")).distinct())
      .select(col("node"), lit(true).as("__known"))
      .join(lab, Seq("node"), "full_outer")
      .select(
        when(col("__known").isNull, raise_error(concat(
          lit("ConnectedComponents.labels: edge endpoint absent from nodes: "),
          col("node").cast("string"))))
          .otherwise(col("node")).as("node"),
        coalesce(col("component"), col("node")).as("component"))
  }

  private def minLabelPropagation(edges: DataFrame, nodes: DataFrame,
                                  maxIters: Int,
                                  switchAfter: Option[Int] = None,
                                  uniqueNodes: Boolean = false): DataFrame = {
    // Eagerly checkpointed, not persisted: the symmetrized table is
    // probed every round, and each round's lazy cut re-ANALYZES its
    // whole logical plan — for a caller handing raw pair-pipeline edges
    // (q203's band self-join) that is repeated driver-side planning for
    // nothing; a checkpointed table plans as one leaf (same
    // materialize-once economics).
    val sym = Materialize.lineageCut(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(), eager = true)
    // Both orientations are present, so src alone covers every touched node.
    var lab = Materialize.lineageCut(sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("component")), eager = false)
    // Exact fixpoint tests, one action per round either way. INTEGRAL
    // labels: the label-table SUM (DECIMAL(38), exact) is strictly
    // monotone because labels only decrease — "sum unchanged" == "no
    // label changed", no join needed. Fractional labels are excluded:
    // casting to decimal(38,0) rounds, so a sub-unit decrease could
    // leave the rounded sum unchanged and declare victory early. Those
    // and other label types: count the strictly-decreased rows via a
    // join of two tables already hash-partitioned by node
    // (sum-of-strings would cast to NULL and declare victory after
    // round one). A NULL sum (decimal overflow — >1e19 rows of max-long
    // labels) makes two rounds incomparable, so it falls back to the
    // join test rather than coercing to a sentinel two overflowing
    // rounds would share.
    val integralLabels = {
      import org.apache.spark.sql.types._
      sym.schema("src").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _                                             => false
      }
    }
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("component").cast("decimal(38,0)")))
        .head().getDecimal(0))
    def decreasedCount(next: DataFrame, prev: DataFrame): Long = next
      .join(prev.select(col("node"), col("component").as("__old")), Seq("node"))
      .filter(col("component") < col("__old")).count()
    var prevSum = if (integralLabels) labelSum(lab) else None
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val viaEdges = sym.join(lab, sym("src") === lab("node"))
        .select(sym("dst").as("node"), col("component"))
      val next = Materialize.lineageCut(viaEdges.unionByName(lab.select(col("node"), col("component")))
        .groupBy(col("node")).agg(min(col("component")).as("component")), eager = false)
      if (integralLabels) {
        val curSum = labelSum(next)
        converged = (curSum, prevSum) match {
          case (Some(c), Some(p)) => c.compareTo(p) == 0
          case _                  => decreasedCount(next, lab) == 0L
        }
        prevSum = curSum
      } else {
        converged = decreasedCount(next, lab) == 0L
      }
      lab = next
      i += 1
      // "auto": an un-landed fixpoint after this many O(diameter)
      // rounds is direct evidence of a deep graph — hand the edges to
      // the O(log d) contraction instead of grinding out the diameter.
      // The propagation work is discarded (the contraction re-derives
      // labels from the raw edges), which is the cheaper total path
      // once diameter exceeds ~2× the switch round.
      if (!converged && switchAfter.exists(i >= _)) {
        System.err.println(s"[graft] ConnectedComponents auto: min-label " +
          s"propagation not converged after $i rounds — switching to " +
          "large-star/small-star contraction (deep-diameter evidence)")
        // Hand the contraction the already-MATERIALIZED symmetrized
        // table (it is a superset orientation-wise, which the star
        // steps' own symmetrize/distinct absorb) instead of re-scanning
        // and re-distincting the caller's deep edge plan.
        return starContraction(sym, nodes, maxIters, uniqueNodes,
          preDeduped = true)
      }
    }
    attachDomain(lab, nodes, uniqueNodes)
  }

  /** Alternating large-star/small-star contraction (Kiveris et al. §3,
    * cited as a design note — no code exists to copy, the paper gives the
    * two relational steps directly):
    *
    *   large-star: per node u with neighbor set N(u), m = min(N(u)∪{u});
    *     every neighbor v > u re-points to m — edges (v, m).
    *   small-star: orient every edge toward the smaller endpoint
    *     (u = max, v = min); per u with smaller-neighbor set S(u),
    *     m = min(S(u)∪{u}); emit (u, m) and (v, m) for v ∈ S(u) ∖ {m}.
    *
    * Both steps preserve connectivity; the composition roughly halves
    * component diameters per round, converging to star graphs whose
    * centers are the component minima in O(log d) rounds. Each step is
    * ONE aggregation + ONE join shuffle on the edge set — per-round state
    * stays O(|edges|), the Closure/min-label playbook. The fixpoint test
    * is exact and type-generic: distinct edge-set equality via count +
    * one-sided EXCEPT (null-safe), ~O(log d) extra passes total. */
  private def starContraction(edges: DataFrame, nodes: DataFrame,
                              maxIters: Int,
                              uniqueNodes: Boolean = false,
                              preDeduped: Boolean = false): DataFrame = {
    // self-loops contract nothing; dedup keeps the per-round state tight.
    // preDeduped: the auto-switch path hands over an already-distinct
    // materialized table — re-distincting it would be a full exchange
    // for nothing (the uniqueNodes rationale, applied to edges).
    val base = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    var e = Materialize.lineageCut(if (preDeduped) base else base.distinct(), eager = false)
    def largeStar(in: DataFrame): DataFrame = {
      val sym = in.unionByName(
        in.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src").agg(min(col("dst")).as("__mn"))
        .select(col("src"), least(col("src"), col("__mn")).as("__m"))
      sym.join(m, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }
    def smallStar(in: DataFrame): DataFrame = {
      val oriented = in.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v")).distinct()
      val m = oriented.groupBy("u").agg(min(col("v")).as("__m"))
      val joined = oriented.join(m, "u")
      joined.filter(col("v") =!= col("__m"))
        .select(col("v").as("src"), col("__m").as("dst"))
        .unionByName(m.select(col("u").as("src"), col("__m").as("dst")))
        .distinct()
    }
    var i = 0
    var count = e.count()
    var converged = count == 0L // an edgeless graph is already contracted
    while (i < maxIters && !converged) {
      val next = Materialize.lineageCut(smallStar(largeStar(e)), eager = false)
      val nextCount = next.count()
      // set equality: same cardinality and nothing new on one side
      converged = nextCount == count && next.except(e).isEmpty
      e = next
      count = nextCount
      i += 1
    }
    if (!converged)
      sys.error(s"star contraction did not converge in $maxIters rounds " +
        "(a partially contracted graph has no correct reading)")
    // final state: star edges leaf → center, centers = component minima;
    // centers label themselves
    val lab = e.select(col("src").as("node"), col("dst").as("component"))
      .unionByName(e.select(col("dst").as("node"), col("dst").as("component"))
        .distinct())
    attachDomain(lab, nodes, uniqueNodes)
  }
}
