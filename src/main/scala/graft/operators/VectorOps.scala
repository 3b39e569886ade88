package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CosineSimilarity
import graft.util.Materialize

/** Similarity search over the `embeddings` table (north-star extension):
  * brute-force cosine top-k as the exact baseline, random-hyperplane LSH
  * bucketing as the scale path, nearest-neighbor-per-vector as the
  * embedding near-dup detector.
  *
  * Vectors are Array[Float] in parquet; both engines cast elementwise to
  * double before any arithmetic, and every cosine is rounded to 6 decimals
  * before ranking/threshold so cross-engine float-sum ordering cannot flip
  * results.
  *
  * Scale notes: brute force is O(Q·N·d) — fine for Q≪N and the correctness
  * baseline; the LSH variant buckets N vectors by an 8-bit signature
  * (deterministic md5-derived hyperplanes) so the pair join touches only
  * same-bucket candidates (~N²/256 at uniform spread). At 100 TB the bucket
  * join is a shuffle on the signature key; skewed buckets split under AQE.
  * An IVF refinement would replace the signature with k-means cell ids —
  * same join shape.
  */
object VectorOps {

  /** embeddings with double-cast vector. private[graft] for the PlanDump
    * internal-plan inspector. */
  private[graft] def vecs(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  private def topK(s: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos"))
  }

  /** Brute-force cosine top-10 for the first 5 query vectors. */
  def q37CosineTopK(s: SparkSession, dir: String): DataFrame = topK(s, dir, 5, 10)

  /** Embedding near-dup: the single nearest neighbor of each of the first 50
    * vectors (rank-1 cosine; no data-dependent threshold). */
  def q43NearestNeighbor(s: SparkSession, dir: String): DataFrame =
    topK(s, dir, 50, 1).select(col("q_id"), col("vec_id").as("nn_id"), col("cos"))

  /** LSH-bucketed candidate pairs: 8 deterministic random hyperplanes
    * (sign_ji = +1 iff first hex digit of md5("j_i") < '8'), signature =
    * 8 sign bits, pairs within the same bucket with their cosine. */
  def q38LshBuckets(s: SparkSession, dir: String): DataFrame = {
    // The hyperplane signs depend only on (j, i) — they are md5s of
    // CONSTANTS. Computing them inside the row expression would burn 512
    // digests per vector (Catalyst cannot fold them: `i` is a lambda
    // variable); at corpus scale that is the dominant cost of the whole
    // signature stage. So the driver computes each sign once (same
    // definition: +1 iff the first md5 hex digit of "j_i" < '8', i.e. the
    // digest's top bit is clear) and ships 8 literal 64-lane sign arrays;
    // the per-row work collapses to 8 codegen'd multiply-add loops in the
    // SAME element order as the inline form, so the signatures are
    // bit-identical (the oracle still re-derives the signs in SQL).
    val signs: IndexedSeq[IndexedSeq[Double]] = (0 until 8).map { j =>
      (1 to 64).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${j}_$i".getBytes("UTF-8"))
        if (d(0) >= 0) 1.0 else -1.0
      }
    }
    val bitCols = (0 until 8).map { j =>
      val sc = array(signs(j).map(lit(_)): _*)
      val dot = aggregate(zip_with(col("v"), sc, (x, w) => x * w),
        lit(0.0), (acc, y) => acc + y)
      when(dot >= 0, "1").otherwise("0").as(s"s$j")
    }
    // The signature stage arrives as one small parquet split — spread it
    // across the cores first; the repartition shuffle is tiny (raw
    // vectors) next to the 8×64 FMA loops it parallelizes.
    val sig = vecs(s, dir).repartition(s.sparkContext.defaultParallelism)
      .select((Seq(col("vec_id"), col("v")) ++ bitCols): _*)
      .withColumn("bucket", concat((0 until 8).map(j => col(s"s$j")): _*))
      .select(col("vec_id"), col("v"), col("bucket"))
    sig.as("a").join(sig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        round(CosineSimilarity(col("a.v"), col("b.v")), 6).as("cos"))
  }

  /** TRAINED coarse quantizer for the whole IVF family (q60/q71/q146/
    * q193/q279/q291/q320/q332/q335): k = max(8, round(√N)) centroids —
    * UNCAPPED, the standard IVF cost balance (probe cost |corpus|/k
    * per cell vs k centroid scores per query) — seeded by md5-order
    * over vec_id (deterministic and free of insertion-order
    * correlation — "the first 8 vectors" of round 16 were arbitrary
    * directions, the measured cause of q328's ~35% single-probe
    * recall), then 2 Lloyd rounds: assign every vector to its
    * max-cosine centroid (6dp-rounded ccos, smallest-cent_id tie),
    * recompute each centroid as the element-wise member mean ROUNDED
    * to 6dp before any further use (the q186 round-before-use
    * convention — the whole trajectory replays verbatim in DuckDB),
    * empty cells keep their previous centroid, exact rounded-fixpoint
    * early stop (a converged round is a no-op, so it commutes with the
    * oracle's unconditional 2 rounds).
    *
    * Scale shape per round: the seed is a TakeOrdered(k) (never a
    * global sort), assignment is the zero-shuffle literal-centroid
    * argmax up to k = [[IvfLiteralMaxK]] (the whole-stage-codegen
    * width) and the broadcast-join + max-struct argmax past it — SAME
    * math, SAME tie order, strategy-parity spec-pinned — and the mean
    * is ONE (cell, dim) partial-aggregable shuffle; the loop-carried
    * state is a k×dim driver array (k ≈ √N grows like the SQUARE ROOT
    * of the corpus — ~316k rows at 10¹¹ vectors, driver-safe). */
  private[graft] def ivfK(n: Long): Int =
    math.max(8L, math.round(math.sqrt(n.toDouble))).toInt

  /** Widest k the literal-inline argmax compiles cleanly at; past it
    * cell scoring swaps to [[scoredCellsBroadcast]]. The literal form
    * pays a large first-pass janino compile that the broadcast form never
    * does, while the broadcast form pays a per-row join at steady state.
    * Both produce identical output (parity-pinned by spec). */
  private[graft] val IvfLiteralMaxK = 64

  /** Broadcast-join cell scoring for k past the literal-codegen width:
    * the corpus joins the broadcast k-row centroid table and every
    * (vector, centroid) pair scores once — (vec_id, v, cent_id, ccos).
    * One broadcast, zero shuffle; the argmax/ranking reductions on top
    * are the consumers' business. */
  private def scoredCellsBroadcast(e: DataFrame,
                                   cents: Array[(Long, Seq[Double])]): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    val cdf = broadcast(cents.toSeq.toDF("cent_id", "cv"))
    e.crossJoin(cdf)
      .withColumn("ccos", round(CosineSimilarity(col("v"), col("cv")), 6))
      .select(col("vec_id"), col("v"), col("cent_id"), col("ccos"))
  }

  /** Broadcast-strategy assignment: ONE corpus-keyed partial-aggregable
    * max-struct reduction over [[scoredCellsBroadcast]] — (ccos,
    * −cent_id), the literal path's exact tie order. private[graft] so
    * the strategy-parity spec can pin it against the literal plan on
    * the same centroids. */
  private[graft] def assignCellsBroadcast(e: DataFrame,
                                          cents: Array[(Long, Seq[Double])]): DataFrame =
    scoredCellsBroadcast(e, cents)
      .groupBy(col("vec_id"), col("v"))
      .agg(max(struct(col("ccos"), (-col("cent_id")).as("negid"))).as("m"))
      .select(col("vec_id"), col("v"), (-col("m.negid")).as("cell"))

  /** Broadcast-strategy ranking: the per-vector window over the scored
    * frame (partitioned by vec_id — never global), rn ≤ maxRn. */
  private[graft] def rankedCellsBroadcast(e: DataFrame,
                                          cents: Array[(Long, Seq[Double])],
                                          maxRn: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    scoredCellsBroadcast(e, cents)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxRn)
      .select(col("vec_id"), col("v"), col("cent_id"), col("ccos"),
        col("rn"))
  }

  private[graft] def trainCentroids(e: DataFrame): Array[(Long, Seq[Double])] = {
    val k = ivfK(e.count())
    // md5-ordered seed: TakeOrderedAndProject, k bounded rows to driver
    var cents: Array[(Long, Seq[Double])] = e
      .withColumn("__h", md5(col("vec_id").cast("string")))
      .orderBy(col("__h")).limit(k)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "trainCentroids needs at least one vector")
    val dim = cents.head._2.length
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var it = 0
    var converged = false
    while (it < 2 && !converged) {
      // ONE corpus scan per round: the argmax rides the GROUPING KEY
      // (evaluated once per row by the hash aggregate) and the per-dim
      // sums are `dim` element_at aggregates — deliberately NO
      // posexplode: a Generate re-evaluates non-attribute projections
      // per GENERATED row, so explode-next-to-argmax multiplies the
      // k×dim scoring by dim (measured: the 30× probe rung burned
      // ~650 CPU-seconds PER TASK on that shape before this fix).
      // Map-side combine makes the shuffle k rows × (dim+1) sums;
      // the k×(dim+1) driver read closes the round. Means round to 6dp
      // half-up ON THE DRIVER — the same BigDecimal semantics as the
      // in-plan round(col, 6) the oracle mirrors.
      // assignCells picks the strategy (literal argmax ≤ IvfLiteralMaxK,
      // broadcast max-struct past it); grouping on its `cell` attribute
      // keeps the scoring once-per-row either way
      val sums = assignCells(e, cents).groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(i => sum(col("v").getItem(i)).as(s"s$i")): _*)
        .collect()
      val byCell: Map[Long, Seq[Double]] = sums.map { r =>
        val n = r.getLong(1).toDouble
        r.getLong(0) -> (0 until dim).map(i => r6(r.getDouble(i + 2) / n))
      }.toMap
      val next = cents.map { case (id, old) =>
        (id, byCell.getOrElse(id, old)) // empty cell keeps its centroid
      }
      converged = next.iterator.zip(cents.iterator)
        .forall { case ((_, a), (_, b)) => a == b }
      cents = next
      it += 1
    }
    cents
  }

  /** The trained quantizer is an INDEX ARTIFACT — a pure function of
    * the (immutable) embeddings table — so it trains once per table
    * directory and every IVF consumer reuses it. Resolution order is
    * the production contract: session cache → persisted on-disk
    * artifact ([[IvfIndex]], fingerprint-validated) → train. Keyed by
    * (canonical path, corpus fingerprint) so a REWRITTEN embeddings
    * table inside one JVM retrains instead of silently serving stale
    * centroids (assignments would still look valid while recall and
    * oracle parity rot — the loud-guard convention applied to caches).
    * Spec frames that never touch a directory train directly via the
    * [[assignCells]] overload. */
  private val centCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Seq[Double])]]()

  private[graft] def canonicalDir(dir: String): String =
    try new java.io.File(dir).getCanonicalPath
    catch { case _: Exception => dir }

  /** Cheap fs-metadata fingerprint of the embeddings table: file count,
    * total bytes, max mtime over the `embeddings.parquet` tree — no
    * Spark job, no data read. Any rewrite/append bumps at least one of
    * the three (an overwrite preserving count AND bytes AND mtime to
    * millisecond precision is not a scenario a cache key can be asked
    * to defend). On a cluster store the same triple comes from the
    * Hadoop FileSystem listing; local java.io is the engine-local
    * binding. */
  private[graft] def corpusFingerprint(dir: String): String = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
      else Iterator.single(f)
    val root = new java.io.File(dir, "embeddings.parquet")
    if (!root.exists()) "absent"
    else {
      val fs = walk(root)
        .filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
        .toVector
      s"${fs.size}_${fs.map(_.length()).sum}_" +
        s"${fs.map(_.lastModified()).foldLeft(0L)(math.max)}"
    }
  }

  private def corpusKey(dir: String): String =
    canonicalDir(dir) + "|" + corpusFingerprint(dir)

  private[graft] def coarseCentroids(s: SparkSession, dir: String): Array[(Long, Seq[Double])] =
    centCache.computeIfAbsent(corpusKey(dir),
      _ => IvfIndex.loadCentroids(s, dir)
        .getOrElse(trainCentroids(vecs(s, dir))))

  /** Trained PQ codebooks, memoized like the coarse centroids (the
    * round-17 verdict's top item: without this every ADC consumer
    * retrained — q341 twice, q343 twice more per Verify pass). Value is
    * the COLLECTED 16-row codebook (subspace, code, codeword), so the
    * cache is driver data and each consumer rebuilds a broadcast-able
    * local frame; keyed by (canonical dir, fingerprint, raw|residual) —
    * the residual books depend on the centroids, which are themselves a
    * pure function of the same corpus. Resolution order matches
    * [[coarseCentroids]]: cache → on-disk artifact → train. */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Long, Seq[Double])]]()

  private[graft] def collectCodebooks(df: DataFrame): Array[(Int, Long, Seq[Double])] =
    df.select(col("cm").cast("int"), col("code").cast("long"), col("cw"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2))

  private[graft] def codebookDf(s: SparkSession,
                                rows: Array[(Int, Long, Seq[Double])]): DataFrame = {
    import s.implicits._
    rows.toSeq.toDF("cm", "code", "cw")
  }

  /** `train` is by-name: it runs ONLY on a cache+artifact miss (the
    * cache-hit spec pins a second call training zero Lloyd jobs). */
  private[graft] def pqCodebooksFor(s: SparkSession, dir: String,
                                    residual: Boolean)
                                   (train: => DataFrame): DataFrame = {
    val flavor = if (residual) IvfIndex.FlavorResidual else IvfIndex.FlavorRaw
    val rows = pqCache.computeIfAbsent(corpusKey(dir) + "|" + flavor,
      _ => IvfIndex.loadCodebooks(s, dir, flavor)
        .getOrElse(collectCodebooks(train)))
    codebookDf(s, rows)
  }

  /** Collected-row view of the memoized codebooks — what
    * [[IvfIndex.build]] persists. Same cache/artifact/train resolution
    * as [[pqCodebooksFor]] with the default training frames (raw
    * trains on the corpus, residual on [[residualVecs]] — only vec_id
    * and v are read, so this is value-identical to the consumers'
    * persisted-frame training). */
  private[graft] def pqCodebookRows(s: SparkSession, dir: String,
                                    residual: Boolean): Array[(Int, Long, Seq[Double])] = {
    val flavor = if (residual) IvfIndex.FlavorResidual else IvfIndex.FlavorRaw
    pqCache.computeIfAbsent(corpusKey(dir) + "|" + flavor,
      _ => IvfIndex.loadCodebooks(s, dir, flavor)
        .getOrElse(collectCodebooks(trainPqCodebooks(
          if (residual) residualVecs(s, dir) else vecs(s, dir)))))
  }

  /** Test hook: drop every memoized index artifact (forces the next
    * consumer through the artifact-load / train path). */
  private[graft] def clearIndexCaches(): Unit = {
    centCache.clear(); pqCache.clear()
  }

  /** The residual corpus view (v − centroid(cell)) the true-IVFADC
    * family (q342/q343) and the artifact builder share: one broadcast
    * k-row centroid join + a zip_with subtract — zero shuffle. */
  private[graft] def residualVecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = coarseCentroids(s, dir)
    val cdf = cents.toSeq.toDF("cell", "cv")
    assignCells(vecs(s, dir), cents).join(broadcast(cdf), "cell")
      .select(col("vec_id"),
        expr("zip_with(v, cv, (a, b) -> a - b)").as("v"), col("cell"))
  }

  /** Zero-shuffle argmax cell over literal centroids: ONE array_max of
    * (ccos, −cent_id) structs — max ccos first, then largest negid =
    * SMALLEST cent_id, the exact tie order the per-vector window
    * produced. Each centroid cosine appears once (the round-16
    * greatest+CaseWhen form repeated every cosine ~3×, which stops
    * compiling cleanly at k = 64). */
  private def cellOf(cents: Array[(Long, Seq[Double])]): org.apache.spark.sql.Column = {
    val structs = array(cents.map { case (id, cv) =>
      struct(
        round(CosineSimilarity(col("v"), array(cv.map(lit(_)): _*)), 6)
          .as("ccos"),
        lit(-id).as("negid"))
    }: _*)
    -array_max(structs).getField("negid")
  }

  /** Coarse-quantizer cell ranking for the multi-probe path: cosine of
    * every vector against the TRAINED centroids, top-`maxRn` cells per
    * vector (rn=1 is the assignment cell, rn≤p the probe set).
    *
    * ZERO-SHUFFLE (the assignCells discipline): per-row ranking is a
    * k-element array_sort over literal-centroid cosine structs — (ccos
    * desc, cent_id asc) — SLICED to maxRn before the posexplode, so the
    * generated frame is corpus×p rows, not corpus×k (the probe width is
    * fixed while k grows with the corpus). */
  private[graft] def rankedCells(e: DataFrame, cents: Array[(Long, Seq[Double])],
                                 maxRn: Int = 2): DataFrame = {
    require(cents.nonEmpty, "rankedCells needs at least one centroid")
    if (cents.length > IvfLiteralMaxK)
      return rankedCellsBroadcast(e, cents, maxRn)
    val cells = array(cents.map { case (id, cv) =>
      struct(
        round(CosineSimilarity(col("v"), array(cv.map(lit(_)): _*)), 6)
          .as("ccos"),
        lit(id).as("cent_id"))
    }: _*)
    val cmp = (l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =>
      when(l("ccos") > r("ccos"), -1)
        .when(l("ccos") < r("ccos"), 1)
        .when(l("cent_id") < r("cent_id"), -1)
        .when(l("cent_id") > r("cent_id"), 1)
        .otherwise(0)
    e.select(col("vec_id"), col("v"),
        posexplode(slice(array_sort(cells, cmp), 1, maxRn)).as(Seq("p0", "c0")))
      .select(col("vec_id"), col("v"),
        col("c0.cent_id").as("cent_id"), col("c0.ccos").as("ccos"),
        (col("p0") + 1).cast("int").as("rn"))
  }

  /** Library overload: train from the frame itself (spec fixtures and
    * callers without a table directory). */
  private[graft] def rankedCells(e: DataFrame): DataFrame =
    rankedCells(e, trainCentroids(e))

  /** Every vector's single assigned cell: the zero-shuffle literal
    * argmax ([[cellOf]]) over the trained centroids — cell assignment
    * is embarrassingly parallel and plans that way (no corpus×k explode,
    * no corpus-keyed window shuffle in ANY IVF consumer). */
  private[graft] def assignCells(e: DataFrame, cents: Array[(Long, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "assignCells needs at least one centroid")
    if (cents.length > IvfLiteralMaxK) assignCellsBroadcast(e, cents)
    else e.select(col("vec_id"), col("v"), cellOf(cents).as("cell"))
  }

  /** Library overload: train from the frame itself. */
  private[graft] def assignCells(e: DataFrame): DataFrame =
    assignCells(e, trainCentroids(e))

  /** (vec_id, v, c1, c2): every vector's top-2 trained cells in ONE
    * zero-shuffle projection (positions 1–2 of the k-struct sort) — the
    * shared side-builder for the capped bitext cell join. The clean
    * path never reads c2, so Catalyst prunes it; k ≥ 8 guarantees a
    * second cell exists. */
  /** [[top2Cells]] over the corpus + trained centroids — the PlanDump
    * inspector's entry to the q351/q352 shared scan. */
  private[graft] def top2CellsFor(s: SparkSession, dir: String): DataFrame =
    top2Cells(vecs(s, dir), coarseCentroids(s, dir))

  private def top2Cells(e: DataFrame, cents: Array[(Long, Seq[Double])]): DataFrame = {
    require(cents.length >= 2, "top2Cells needs at least two centroids")
    if (cents.length > IvfLiteralMaxK)
      return rankedCellsBroadcast(e, cents, maxRn = 2)
        .groupBy(col("vec_id"), col("v"))
        .agg(max(when(col("rn") === 1, col("cent_id"))).as("c1"),
          max(when(col("rn") === 1, col("ccos"))).as("ccos1"),
          max(when(col("rn") === 2, col("cent_id"))).as("c2"))
    val cells = array(cents.map { case (id, cv) =>
      struct(
        round(CosineSimilarity(col("v"), array(cv.map(lit(_)): _*)), 6)
          .as("ccos"),
        lit(id).as("cent_id"))
    }: _*)
    val cmp = (l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =>
      when(l("ccos") > r("ccos"), -1)
        .when(l("ccos") < r("ccos"), 1)
        .when(l("cent_id") < r("cent_id"), -1)
        .when(l("cent_id") > r("cent_id"), 1)
        .otherwise(0)
    val sorted = array_sort(cells, cmp)
    e.select(col("vec_id"), col("v"),
      sorted.getItem(0).getField("cent_id").as("c1"),
      sorted.getItem(0).getField("ccos").as("ccos1"),
      sorted.getItem(1).getField("cent_id").as("c2"))
  }

  /** Oversized-cell occupancy cap for the IVF cell equi-join — the
    * [[graft.operators.TextOps.lshPairsCapped]] discipline applied to
    * cells: at 100 TB a boilerplate-dense hub cell (the rdf:type skew
    * of vector space) recreates the q317 brute-force blowup INSIDE one
    * cell unless its |en_cell|·|de_cell| product is defended. */
  private[graft] val IvfCellCap = 1000

  /** Cell-join candidate pairs with the oversized-cell diversion.
    * `a` must carry (src_id, va, cell, alta); `b` (tgt_id, vb, cell,
    * altb) — `alt*` is the side's OTHER top-2 cell ([[top2Cells]]).
    *
    * The census (max per-side cell occupancy) is one map-side-combined
    * aggregation + a 1-row driver read — the lshPairsCapped class; the
    * CLEAN path is the classic cell equi-join with zero extra joins
    * (the alt columns prune out of the plan). Cells whose occupancy
    * exceeds `cap` divert: their pairs additionally key on the
    * second-choice cell (join key becomes (cell, alt) — a COMPOSITE
    * hash-join key, so the shuffle product is per (cell, alt)
    * sub-group, ≤ (k−1)-way split of the hub). That is the same ANN
    * relaxation the cell join already is, tightened one rung — a
    * cross-sub-cell best inside a hub cell is invisible, which is
    * q328's business to measure. A POINT-MASS hub (all members
    * identical) also shares its second cell and keeps its product —
    * semantically irreducible for mining (every pair IS a candidate
    * translation pair); the real remedy there is upstream semantic
    * dedup (q146), not the candidate generator. */
  private[graft] def cappedCellCandidates(a: DataFrame, b: DataFrame,
                                          cap: Int): DataFrame = {
    val occ = a.groupBy(col("cell")).agg(count(lit(1)).as("na"))
      .join(b.groupBy(col("cell")).agg(count(lit(1)).as("nb")),
        Seq("cell"), "full_outer")
      .select(col("cell"),
        greatest(coalesce(col("na"), lit(0L)),
          coalesce(col("nb"), lit(0L))).as("occ"))
    // 1-row bounded driver read (the lshPairsCapped census class)
    val mx = occ.agg(max(col("occ")).as("m")).collect()(0)
    val maxOcc = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    if (maxOcc <= cap)
      a.drop("alta").join(b.drop("altb"), "cell")
        .select(col("src_id"), col("va"), col("tgt_id"), col("vb"))
    else {
      // oversized keys: tiny by construction (cells over the cap),
      // eagerly materialized so both anti/semi sides broadcast it
      val keys = occ.filter(col("occ") > cap).select(col("cell"))
        .transform(Materialize.localCheckpoint(_))
      val small = a.join(broadcast(keys), Seq("cell"), "left_anti")
        .drop("alta")
        .join(b.join(broadcast(keys), Seq("cell"), "left_anti")
          .drop("altb"), "cell")
        .select(col("src_id"), col("va"), col("tgt_id"), col("vb"))
      val big = a.join(broadcast(keys), Seq("cell"), "left_semi").as("ba")
        .join(b.join(broadcast(keys), Seq("cell"), "left_semi").as("bb"),
          col("ba.cell") === col("bb.cell") &&
            col("ba.alta") === col("bb.altb"))
        .select(col("ba.src_id").as("src_id"), col("ba.va").as("va"),
          col("bb.tgt_id").as("tgt_id"), col("bb.vb").as("vb"))
      small.unionByName(big)
    }
  }

  def q60IvfAnn(s: SparkSession, dir: String): DataFrame = {
    // assigned feeds both the probe list and the candidate scan — persist
    // so the corpus×centroid scoring runs once
    val assigned = Materialize.persist(assignCells(vecs(s, dir), coarseCentroids(s, dir)))
    assigned.count()
    ivfAnnFrom(assigned)
  }

  /** [[q60IvfAnn]] downstream of the cell assignment — the exact
    * in-cell top-3 as a function of a caller-supplied (vec_id, v, cell)
    * frame, so q352 can share ONE assignment scan between its exact arm
    * (this) and its beam arm (r18 verdict item 5). Caller persists the
    * input and materializes the (tiny) result before dropping it. */
  private[graft] def ivfAnnFrom(assigned: DataFrame): DataFrame = {
    val queries = assigned.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
    val candidates = assigned.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    candidates.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("cell"), col("vec_id"), col("rank"), col("cos"))
  }

  /** One FURTHER Lloyd (k-means) iteration on top of the trained coarse
    * quantizer — the index-refresh step a production run schedules after
    * corpus growth: assign every vector to its (trained) cell, then
    * recompute each centroid as the element-wise mean of its members.
    * Emits per-cell member count and the new centroid's norm (means
    * rounded to 6, norm to 4 — integer-count denominators plus rounding
    * keep both engines' float sums aligned). The iteration is two
    * shuffles (zero-shuffle argmax assignment + per-(cell,dim)
    * partial-sum agg), both partial-aggregable — the loop is flat per
    * round at any scale. */
  def q68KmeansStep(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint = the Generate barrier: posexplode would otherwise
    // re-evaluate the k×dim argmax cell per EXPLODED row (Generate
    // recomputes non-attribute projections per generated element — the
    // shape the round-17 30× probe caught in trainCentroids' first cut)
    val assigned = assignCells(vecs(s, dir), coarseCentroids(s, dir))
      .transform(Materialize.localCheckpoint(_))
    assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cell"), col("i"))
      .agg((sum(col("x")) / count(lit(1))).as("mraw"), count(lit(1)).as("n"))
      .withColumn("m", round(col("mraw"), 6))
      .groupBy(col("cell"))
      .agg(max(col("n")).as("n_assigned"),
        round(sqrt(sum(col("m") * col("m"))), 4).as("new_norm"))
  }

  /** Full Lloyd (k-means) TRAINING loop, PINNED at the fixed first-8
    * seed and k=8 — the oracled training-trajectory demo (the
    * production quantizer every IVF consumer actually uses is
    * [[trainCentroids]]: md5-ordered seed, k = max(8, √N) (uncapped — the literal argmax serves k ≤ 64, the broadcast max-struct argmax past it, parity-pinned), same
    * Lloyd algebra — this query keeps the small fixed configuration so
    * its 3-round DuckDB replay stays readable and cheap). Per iteration: every
    * vector joins the broadcast centroid frame, takes its max-cosine
    * cell (ccos rounded to 6, cent_id tiebreak), and each cell's new
    * centroid is the element-wise member mean ROUNDED to 6 before any
    * further use — the round-before-use convention that keeps the whole
    * trajectory bit-aligned across engines, so a fixed-iteration DuckDB
    * oracle replays it exactly. Cells that empty keep their previous
    * centroid. Convergence = rounded centroids EXACTLY unchanged — then
    * later oracle iterations are no-ops, so early stopping and the
    * oracle's unconditional three rounds agree. Scale shape per round:
    * one corpus×k broadcast scoring pass + the per-vector assignment
    * window + one (cell, dim) partial-sum shuffle; the loop-carried
    * centroid state (k×64 doubles) is localCheckpoint'ed each round —
    * the per-iteration lineage cut — and the corpus stays persisted
    * across rounds. Output: per-cell member count of the final
    * assignment and the final centroid norm (q68's report schema). */
  def q186KmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val e = Materialize.persist(vecs(s, dir))
    e.count()
    def assign(cents: DataFrame): DataFrame = {
      val scored = e.crossJoin(broadcast(cents))
        .withColumn("ccos", round(CosineSimilarity(col("v"), col("cv")), 6))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cent_id").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
    }
    var cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      .transform(Materialize.localCheckpoint(_))
    var lastAssigned: DataFrame = null
    var it = 0
    var converged = false
    while (it < 3 && !converged) {
      val assigned = Materialize.persist(assign(cents))
      val newC = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(round(sum(col("x")) / count(lit(1)), 6).as("m"))
        .groupBy(col("cell"))
        .agg(expr("transform(sort_array(collect_list(struct(i, m))), p -> p.m)")
          .as("cv"))
        .select(col("cell").as("cent_id"), col("cv"))
      val kept = cents.join(newC.select(col("cent_id")), Seq("cent_id"), "left_anti")
      val next = Materialize.localCheckpoint(newC.unionByName(kept), eager = false) // lazy lineage cut — the convergence read below materializes
      // bounded driver read (k rows): exact rounded-centroid equality
      converged = cents.as("o").join(next.as("n"), "cent_id")
        .filter(col("o.cv") =!= col("n.cv")).isEmpty
      cents = next
      lastAssigned = assigned
      it += 1
    }
    lastAssigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_assigned"))
      .join(cents.select(col("cent_id").as("cell"),
        round(sqrt(aggregate(col("cv"), lit(0.0), (a, x) => a + x * x)), 4)
          .as("new_norm")), Seq("cell"))
  }

  /** Multi-probe IVF ANN: queries probe their top-2 cells instead of one —
    * the standard recall/cost knob for inverted-file indexes (candidates
    * roughly double, recall loss from quantization-boundary neighbors
    * shrinks). Same join shape as q60: assignment window + broadcast of the
    * (tiny) probe list + in-cell ranking; the probe fan-out multiplies only
    * the broadcast side, never the corpus shuffle. */
  def q71MultiprobeAnn(s: SparkSession, dir: String): DataFrame = {
    // Both the assignment (rn=1) and the probe set (rn≤2) project the same
    // ranked frame — persist it so corpus×centroid scoring runs once.
    val ranked = Materialize.persist(rankedCells(vecs(s, dir), coarseCentroids(s, dir)))
    ranked.count()
    val assigned = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
    val probes = ranked.filter(col("rn") <= 2 && col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cent_id").as("cell"))
    val candidates = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    candidates.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos"))
  }

  /** Embedding-cosine near-dup pairs by threshold (the dedup-category
    * counterpart of the rank-1 q43): all pairs within the first 300
    * vectors whose rounded cosine clears 0.40. Bounded candidate set —
    * the unbounded-scale path is the LSH/IVF bucketing (q38/q60), which
    * turns the quadratic pair scan into a same-bucket join. */
  def q69EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir).filter(col("vec_id") < 300)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(CosineSimilarity(col("a.v"), col("b.v")), 6))
      .filter(col("cos") >= 0.40)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
  }

  /** Bitext mining — margin-based reciprocal matching (the LASER/
    * CCMatrix shape, Artetxe & Schwenk 2019): candidate parallel pairs
    * between two language sides are the RECIPROCAL cosine best matches
    * (src's best tgt whose own best is that src), scored by an absolute
    * margin — best minus the mean of the source's top-4 neighborhood —
    * so a hub vector ("everyone's neighbor") cannot mint pairs on raw
    * similarity alone. Cross-engine determinism: cosines round to 6
    * digits (the q69 parity surface), then everything is integer
    * micro-algebra — both rank windows order by the micro-long, the
    * top-4 mean is an exact long sum, and the margin spends ONE IEEE
    * division ((best·k − Σtop_k)/(k·10⁶)). Windows are PARTITIONED by
    * side (never global); the tgt side broadcasts. Brute-force pair
    * frame is the EVAL-scale exact baseline (the q288/q310 class);
    * [[q320BitextIvf]] is the corpus-scale path — same algebra over
    * the IVF cell-equi-join candidate frame. */
  def q317BitextMining(s: SparkSession, dir: String): DataFrame = {
    val lang = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("lang"))
    val e = vecs(s, dir).join(lang, "vec_id")
    val a = e.filter(col("lang") === "en")
      .select(col("vec_id").as("src_id"), col("v").as("va"))
    val b = e.filter(col("lang") === "de")
      .select(col("vec_id").as("tgt_id"), col("v").as("vb"))
    val pairs = a.crossJoin(broadcast(b))
      .withColumn("cos", round(CosineSimilarity(col("va"), col("vb")), 6))
      .withColumn("cm", round(col("cos") * 1e6).cast("long"))
      .select(col("src_id"), col("tgt_id"), col("cos"), col("cm"))
    bitextMarginPairs(pairs)
  }

  /** Reciprocal-rank + margin tail shared by q317 (brute-force pair
    * frame) and q320 (IVF cell-prefiltered pair frame): both rank
    * windows are PARTITIONED per side and order by the integer
    * micro-cosine, the top-4 neighborhood mean is an exact long sum,
    * and the margin spends ONE IEEE division — identical op order in
    * both engines. The ranked frame persists for its three consumers
    * (two window projections + the top-4 agg); the query scope releases
    * it. */
  private[graft] def bitextMarginPairs(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = Window.partitionBy(col("src_id"))
      .orderBy(col("cm").desc, col("tgt_id").asc)
    val wt = Window.partitionBy(col("tgt_id"))
      .orderBy(col("cm").desc, col("src_id").asc)
    // rt FIRST, rs second (each rank is a pure function of the pair
    // frame, so the order cannot change values): the LAST window leaves
    // the frame hash-partitioned by ITS key, and every downstream
    // consumer here keys on src_id — the top-4 aggregation and the
    // reciprocal join then reuse the rs-window's exchange instead of
    // re-shuffling the pair frame (guide §2.4: establish the
    // partitioning once, in the order the consumers want it).
    val ranked = pairs
      .withColumn("rt", row_number().over(wt))
      .withColumn("rs", row_number().over(ws))
      .transform(Materialize.persist(_))
    val top4 = ranked.filter(col("rs") <= 4)
      .groupBy(col("src_id"))
      .agg(sum(col("cm")).as("scm"), count(lit(1)).as("k4"),
        max(when(col("rs") === 1, col("cm"))).as("best"))
    ranked.filter(col("rs") === 1 && col("rt") === 1)
      .join(top4, "src_id")
      .select(col("src_id"), col("tgt_id"), col("cos"),
        round((col("best") * col("k4") - col("scm")).cast("double") /
          (col("k4").cast("double") * lit(1000000.0)), 6).as("margin"))
  }

  /** Bitext mining at CORPUS scale — q317's reciprocal-margin algebra
    * over an IVF-bounded candidate frame instead of the brute-force
    * cross product: both sides assign to their coarse-quantizer cell
    * ([[assignCells]] — the q193/q279 route, zero-shuffle codegen
    * argmax) and candidate pairs are the CELL EQUI-JOIN, so the pair
    * count is Σ_cell |en_cell|·|de_cell|, never |en|·|de|. Ranks,
    * top-4 neighborhood, and margin then read exactly as q317 — but
    * each src's neighborhood is its candidate set, the standard ANN
    * relaxation (a cross-cell true best is invisible; recall is the
    * q128-style eval's business).
    *
    * 100 TB posture: the cell join is a keyed shuffle on the cell id —
    * with production k ≈ √N cells the per-cell work is corpus/k per
    * side and nothing broadcasts or crosses. The windows partition by
    * src/tgt inside the pair frame, the top-4 agg is |src|-bounded. */
  def q320BitextIvf(s: SparkSession, dir: String): DataFrame =
    bitextIvfImpl(s, dir, IvfCellCap)

  /** q320 body with the occupancy cap as a parameter (specs force the
    * diversion with a small cap on real data; production runs at
    * [[IvfCellCap]] — at the test SFs every cell is under the cap, so
    * the DuckDB oracle encodes the clean path, the lshPairsCapped
    * convention). */
  private[graft] def bitextIvfImpl(s: SparkSession, dir: String,
                                   cap: Int): DataFrame = {
    val lang = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("lang"))
    // t2 carries the corpus × k cell-scoring work and feeds FOUR
    // consumers (the occupancy census on each side + both sides of the
    // pair join) — persist so the scoring runs once
    val t2 = top2Cells(vecs(s, dir), coarseCentroids(s, dir))
      .join(lang, "vec_id")
      .transform(Materialize.persist(_))
    t2.count()
    val a = t2.filter(col("lang") === "en")
      .select(col("vec_id").as("src_id"), col("v").as("va"),
        col("c1").as("cell"), col("c2").as("alta"))
    val b = t2.filter(col("lang") === "de")
      .select(col("vec_id").as("tgt_id"), col("v").as("vb"),
        col("c1").as("cell"), col("c2").as("altb"))
    val pairs = cappedCellCandidates(a, b, cap)
      .withColumn("cos", round(CosineSimilarity(col("va"), col("vb")), 6))
      .withColumn("cm", round(col("cos") * 1e6).cast("long"))
      .select(col("src_id"), col("tgt_id"), col("cos"), col("cm"))
    bitextMarginPairs(pairs)
  }

  /** Multi-probe IVF bitext — the recall KNOB q328's eval motivates
    * (the round-16 8-arbitrary-cell quantizer kept ~35% of exact pairs
    * single-probe; q328 re-measures against the trained cells): the src
    * side probes its TOP-2 cells ([[rankedCells]] rn ≤ 2, the q71
    * convention — probing multiplies only the querying side's fan-out,
    * the corpus side stays at its one assigned cell), candidates are
    * pairs sharing a probed cell, then the shared margin tail. No
    * dedup is needed — the tgt side carries exactly ONE cell (rn = 1),
    * so a pair can meet in at most one probe; the round-16 30× probe
    * caught the defensive dropDuplicates shuffling the pair frame WITH
    * both 64-dim vectors (133× wall at 30× data) for that no-op.
    * Cost: ≤2× the q320 pair frame — the standard probe/recall trade,
    * now measurable against q317's exact truth alongside q320. */
  def q332BitextMultiprobe(s: SparkSession, dir: String): DataFrame =
    bitextMultiprobeImpl(s, dir, IvfCellCap)

  /** q332 body with the occupancy cap as a parameter (the q320
    * convention). The src side's two probe rows carry complementary
    * (cell, alt) — probing via c1 leaves c2 as the diversion sub-key
    * and vice versa — so under a hub cell the probe fan-out and the
    * sub-split compose instead of fighting. */
  private[graft] def bitextMultiprobeImpl(s: SparkSession, dir: String,
                                          cap: Int): DataFrame = {
    val lang = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("lang"))
    // same four-consumer shape as bitextIvfImpl — persist the scored
    // frame so corpus × k cell scoring runs once, not per consumer
    val t2 = top2Cells(vecs(s, dir), coarseCentroids(s, dir))
      .join(lang, "vec_id")
      .transform(Materialize.persist(_))
    t2.count()
    val a = t2.filter(col("lang") === "en")
      .select(col("vec_id").as("src_id"), col("v").as("va"),
        explode(array(
          struct(col("c1").as("cell"), col("c2").as("alt")),
          struct(col("c2").as("cell"), col("c1").as("alt")))).as("pc"))
      .select(col("src_id"), col("va"),
        col("pc.cell").as("cell"), col("pc.alt").as("alta"))
    val b = t2.filter(col("lang") === "de")
      .select(col("vec_id").as("tgt_id"), col("v").as("vb"),
        col("c1").as("cell"), col("c2").as("altb"))
    val pairs = cappedCellCandidates(a, b, cap)
      .withColumn("cos", round(CosineSimilarity(col("va"), col("vb")), 6))
      .withColumn("cm", round(col("cos") * 1e6).cast("long"))
      .select(col("src_id"), col("tgt_id"), col("cos"), col("cm"))
    bitextMarginPairs(pairs)
  }

  /** Semantic eval-proximity audit — the decontamination layer the
    * string family (q116/q201/q211/q326) structurally misses: a
    * PARAPHRASED or translated eval leak shares no n-grams and no
    * shingles, but its embedding sits next to the eval doc. For each
    * eval vector (doc_id ≡ 0 mod 31 — the q326 holdout convention):
    * the nearest training vector, its cosine, and how many training
    * docs sit above the 0.5 watch bar. All ranking on the 6dp-rounded
    * micro-integer cosine (argmax via one max-struct — smallest train
    * id breaks ties); report is |eval|-bounded. Scale shape: the EVAL
    * side broadcasts (benchmark-sized by definition), the corpus
    * streams through one scan with map-side partial aggregation —
    * never a corpus shuffle; the IVF cell route (q193/q320) is the
    * swap-in when even |eval|×corpus cosines stop fitting. */
  def q334SemanticEvalProximity(s: SparkSession, dir: String): DataFrame =
    semanticEvalProximityImpl(s, dir, graft.util.Guards.EvalBroadcastRows)

  /** q334 body with the eval-broadcast bound as a parameter (specs
    * prove the guard fires; production runs at the shared bound). */
  private[graft] def semanticEvalProximityImpl(s: SparkSession, dir: String,
                                               evalBound: Long): DataFrame = {
    val e = vecs(s, dir)
    val ev = graft.util.Guards.boundedBroadcast(
      e.filter(col("vec_id") % 31 === 0)
        .select(col("vec_id").as("eval_id"), col("v").as("evec")),
      evalBound, "q334 semantic eval-proximity release gate")
    val train = e.filter(col("vec_id") % 31 =!= 0)
    train.crossJoin(ev)
      .withColumn("cm",
        round(round(CosineSimilarity(col("evec"), col("v")), 6) * 1e6)
          .cast("long"))
      .groupBy(col("eval_id"))
      .agg(max(struct(col("cm"), (-col("vec_id")).as("negid"))).as("m"),
        sum(when(col("cm") >= 500000L, 1L).otherwise(0L)).as("n_close"))
      .select(col("eval_id"),
        round(col("m.cm").cast("double") / 1e6, 6).as("max_cos"),
        (-col("m.negid")).as("nearest_train"), col("n_close"))
  }

  /** IVF-accelerated proximity SCREEN — [[q334SemanticEvalProximity]]'s
    * continuous-monitoring twin, the same split q317/q320 ships for
    * bitext: q334's exact |eval|×corpus frame is the RELEASE gate (run
    * once per candidate corpus); this screen joins eval and training
    * vectors on their coarse cell so per-trigger/per-increment cost is
    * cell-local, and it only ever UNDER-reports (every flagged neighbor
    * is genuinely close — precision 1 by construction; a cross-cell
    * near-leak is the release gate's to catch, or shrink the miss with
    * the q332 multi-probe knob). Eval vectors with no same-cell
    * training neighbor are absent — a screen reports findings, not
    * absences. */
  def q335ProximityScreenIvf(s: SparkSession, dir: String): DataFrame =
    proximityScreenIvfImpl(s, dir, graft.util.Guards.EvalBroadcastRows)

  /** q335 body with the eval-broadcast bound as a parameter (specs
    * prove the guard fires; production runs at the shared bound). */
  private[graft] def proximityScreenIvfImpl(s: SparkSession, dir: String,
                                            evalBound: Long): DataFrame = {
    val cells = assignCells(vecs(s, dir), coarseCentroids(s, dir))
    val ev = graft.util.Guards.boundedBroadcast(
      cells.filter(col("vec_id") % 31 === 0)
        .select(col("vec_id").as("eval_id"), col("v").as("evec"),
          col("cell")),
      evalBound, "q335 IVF proximity screen")
    val train = cells.filter(col("vec_id") % 31 =!= 0)
    train.join(ev, "cell")
      .withColumn("cm",
        round(round(CosineSimilarity(col("evec"), col("v")), 6) * 1e6)
          .cast("long"))
      .groupBy(col("eval_id"))
      .agg(max(struct(col("cm"), (-col("vec_id")).as("negid"))).as("m"),
        sum(when(col("cm") >= 500000L, 1L).otherwise(0L)).as("n_close"))
      .select(col("eval_id"),
        round(col("m.cm").cast("double") / 1e6, 6).as("max_cos"),
        (-col("m.negid")).as("nearest_train"), col("n_close"))
  }

  /** IVF-bitext recall/precision eval — the q128-style answer to the
    * question [[q320BitextIvf]] explicitly defers ("a cross-cell true
    * best is invisible; recall is the eval's business"): run BOTH the
    * exact brute-force mining (q317) and the IVF-bounded mining (q320)
    * over the same corpus and report how much of the exact pair set the
    * scale path keeps. The exact side is affordable exactly because
    * this is an eval (the q288 pattern — truth at eval scale, sampled
    * monitoring in production via q327's discipline); all counts are
    * integers, the two ratios spend one IEEE division each. */
  def q328BitextIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = q317BitextMining(s, dir)
      .select(col("src_id"), col("tgt_id"))
    val ivf = q320BitextIvf(s, dir)
      .select(col("src_id"), col("tgt_id"))
    val hit = exact.join(ivf, Seq("src_id", "tgt_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(ivf.agg(count(lit(1)).as("n_ivf"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_shared"))))
      .select(col("n_exact"), col("n_ivf"), col("n_shared"),
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_shared") / col("n_exact"), 6))
          .as("recall"),
        when(col("n_ivf") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_shared") / col("n_ivf"), 6))
          .as("precision"))
  }

  /** Quantizer census — the per-cell health report an IVF index build
    * publishes next to the artifact (this round's probe prints the
    * same stats to stderr; this makes them a first-class ORACLED
    * output): per cell, member count plus mean/min/max assigned-cell
    * cosine. The mean is an exact micro-long sum spending ONE IEEE
    * division (the q317 margin discipline); min/max are
    * order-independent on the 6dp-rounded ccos. One zero-shuffle
    * ranking pass + one k-row aggregation. */
  def q337QuantizerCensus(s: SparkSession, dir: String): DataFrame =
    rankedCells(vecs(s, dir), coarseCentroids(s, dir), maxRn = 1)
      .select(col("cent_id").as("cell"),
        round(col("ccos") * 1e6).cast("long").as("cm"), col("ccos"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("cm")).as("scm"),
        min(col("ccos")).as("min_ccos"), max(col("ccos")).as("max_ccos"))
      .select(col("cell"), col("n_members"),
        round(col("scm").cast("double") /
          (lit(1e6) * col("n_members").cast("double")), 6).as("avg_ccos"),
        col("min_ccos"), col("max_ccos"))

  /** IVF imbalance factor (the FAISS index-health metric:
    * k·Σn_c²/N² — 1.0 is perfectly balanced, the expected slowdown
    * multiplier of cell-probed search under skew) plus the occupancy
    * extremes and the count of cells over [[IvfCellCap]] — the one-row
    * go/no-go an index build reads before serving: imbalance near 1
    * and n_over_cap 0 means the cell join runs clean-path everywhere.
    * Integer sufficient statistics; the imbalance spends one IEEE
    * chain mirrored exactly in the oracle. */
  def q338IvfImbalance(s: SparkSession, dir: String): DataFrame =
    assignCells(vecs(s, dir), coarseCentroids(s, dir))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_c"))
      .agg(count(lit(1)).as("k"), sum(col("n_c")).as("n"),
        sum(col("n_c") * col("n_c")).as("s2"),
        max(col("n_c")).as("max_occ"),
        sum(when(col("n_c") > IvfCellCap, 1L).otherwise(0L))
          .as("n_over_cap"))
      .select(col("k"), col("n"),
        round(col("k").cast("double") * col("s2").cast("double") /
          (col("n").cast("double") * col("n").cast("double")), 6)
          .as("imbalance"),
        col("max_occ"), col("n_over_cap"))

  /** Multi-probe proximity SCREEN — [[q335ProximityScreenIvf]] with the
    * q332 recall knob applied: each EVAL vector probes its TOP-2 cells
    * (the probe fan-out multiplies only the broadcast eval side — the
    * corpus stays at its one assigned cell, and a (train, eval) pair
    * can meet in at most one probe because the train side carries one
    * cell). Still precision-1 under-reporting, but the miss the
    * single-probe screen's scaladoc concedes shrinks by the measured
    * q328 single→two-probe recall step. Same size-guarded broadcast
    * contract as q335. */
  def q339MultiprobeScreen(s: SparkSession, dir: String): DataFrame = {
    val cents = coarseCentroids(s, dir)
    val e = vecs(s, dir)
    val ev = graft.util.Guards.boundedBroadcast(
      rankedCells(e.filter(col("vec_id") % 31 === 0), cents, maxRn = 2)
        .select(col("vec_id").as("eval_id"), col("v").as("evec"),
          col("cent_id").as("cell")),
      graft.util.Guards.EvalBroadcastRows,
      "q339 multi-probe proximity screen")
    val train = assignCells(e, cents).filter(col("vec_id") % 31 =!= 0)
    train.join(ev, "cell")
      .withColumn("cm",
        round(round(CosineSimilarity(col("evec"), col("v")), 6) * 1e6)
          .cast("long"))
      .groupBy(col("eval_id"))
      .agg(max(struct(col("cm"), (-col("vec_id")).as("negid"))).as("m"),
        sum(when(col("cm") >= 500000L, 1L).otherwise(0L)).as("n_close"))
      .select(col("eval_id"),
        round(col("m.cm").cast("double") / 1e6, 6).as("max_cos"),
        (-col("m.negid")).as("nearest_train"), col("n_close"))
  }

  /** Pair-frame bound for the bitext router: below it the exact
    * brute-force frame (q317) is affordable and is the better answer
    * (no recall loss); above it only the IVF cell join (q320) scales.
    * 10M pairs ≈ a few GB of scored pair rows — comfortably inside one
    * executor wave, far outside broadcast territory. */
  private[graft] val BitextExactPairBound = 10000000L

  /** The routing predicate, factored for the spec to pin the switch
    * point: exact iff |en|·|de| ≤ bound (BigInt — two 3e9-row sides
    * must route to IVF, not overflow Long into the exact path). */
  private[graft] def bitextRouteExact(nEn: Long, nDe: Long, bound: Long): Boolean =
    BigInt(nEn) * BigInt(nDe) <= BigInt(bound)

  /** Size-routed bitext mining — the lshPairsCapped auto-diversion
    * pattern applied at the ENTRY POINT, so a caller can no longer run
    * q317 semantics at corpus scale by accident: count the two language
    * sides (one column-pruned scan — the price of the contract, the
    * q326/q334 guard discipline), then pick the exact frame below
    * [[BitextExactPairBound]] and the IVF cell join above it. Both
    * routes share [[bitextMarginPairs]], so the output schema is
    * identical by construction and the router changes WHICH candidate
    * frame feeds the margin algebra, never the algebra itself. */
  def q336BitextAuto(s: SparkSession, dir: String): DataFrame =
    bitextAutoImpl(s, dir, BitextExactPairBound)

  /** q336 body with the pair bound as a parameter (specs pin both
    * routes on the same data; production runs at the shipped bound). */
  private[graft] def bitextAutoImpl(s: SparkSession, dir: String,
                                    bound: Long): DataFrame = {
    val lang = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("lang"))
    val counts = Tables.embeddings(s, dir).select(col("vec_id"))
      .join(lang, "vec_id")
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (nEn, nDe) = (counts.getOrElse("en", 0L), counts.getOrElse("de", 0L))
    if (bitextRouteExact(nEn, nDe, bound)) q317BitextMining(s, dir)
    else q320BitextIvf(s, dir)
  }

  /** Int8 symmetric quantization report — the vector-compression pass an
    * ANN index build runs before storing embeddings at corpus scale (4×
    * smaller than float32; the scale factor and reconstruction error are
    * what you audit before committing to it). Per vector: max-abs scale,
    * worst-case reconstruction error, and the saturated-lane count
    * (|q| = 127). Purely element-wise HOFs plus order-independent
    * max/count reductions — deliberately NO float summation, so results
    * are bit-identical across engines and at any parallelism. Linear,
    * shuffle-free, embarrassingly partitionable. */
  def q127EmbeddingQuant(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir)
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0D"))
      .withColumn("max_err", expr(
        "round(array_max(transform(v, x -> abs(x - round(x / scale) * scale))), 8)"))
      .withColumn("n_sat", expr(
        "CAST(size(filter(v, x -> abs(round(x / scale)) >= 127.0D)) AS BIGINT)"))
      .select(col("vec_id"), round(col("scale"), 8).as("scale"),
        col("max_err"), col("n_sat"))

  /** ANN recall@3 — the evaluation harness every approximate index needs
    * before it replaces the exact scan at corpus scale: for the q60 query
    * set, join single-probe IVF results against the exact brute-force
    * top-3 and report per-query hit counts. Exact side runs over the full
    * corpus but only for the (sampled) query set — the standard recall
    * protocol; the IVF side is q60's plan unchanged. Recall is a ratio of
    * two integer counts, so cross-engine bit-exact. */
  def q128AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val exactTop = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"))
    val ivf = q60IvfAnn(s, dir)
      .select(col("q_id"), col("vec_id"), lit(1L).as("__hit"))
    exactTop.join(ivf, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"),
        round(sum(coalesce(col("__hit"), lit(0L))) / count(lit(1)), 4).as("recall"))
  }

  /** kNN label-consistency — the embedding-space sanity harness run
    * before an embedding table is trusted for semantic dedup or
    * retrieval: for each of the first 100 vectors, the majority label of
    * its 5 nearest neighbors (cosine; count-desc then label-asc on ties)
    * against its own label, aggregated per label as a consistency rate.
    * A space whose neighborhoods disagree with labels makes q146's
    * cosine threshold meaningless — this is the accept/reject protocol
    * for the EMBEDDINGS, as q128 is for the INDEX. Same broadcast
    * query-side scan as q37; the double window (rank then majority) and
    * final rate never touch more than Q×5 rows. */
  def q153KnnConsistency(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"),
        col("label"))
    val q = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("q_label"))
    val wNn = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val nn = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
      .withColumn("rank", row_number().over(wNn)).filter(col("rank") <= 5)
    val wMaj = Window.partitionBy(col("q_id"))
      .orderBy(col("n").desc, col("label").asc)
    val majority = nn.groupBy(col("q_id"), col("q_label"), col("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mr", row_number().over(wMaj)).filter(col("mr") === 1)
    majority
      .groupBy(col("q_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("n_consistent"))
      .withColumn("rate", round(col("n_consistent") / col("n_queries"), 4))
  }

  /** Hard-negative mining (the DPR/ANCE dense-retrieval recipe: train
    * with the highest-scoring NON-matches): for each query vector, the
    * top-3 candidates by cosine whose `label` DIFFERS from the query's —
    * the near-misses a contrastive loss learns the most from. Same
    * broadcast-query scan as q37; the label inequality rides the join
    * condition, so candidates with the query's own label never reach the
    * ranking window. At corpus scale this is the exact pass; the ANN
    * variant swaps in q60's cell-pruned candidates unchanged. */
  def q150HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"),
        col("label"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("q_label"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("q_label"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("rank"), col("cos"))
  }

  /** Semantic dedup over embedding clusters (SemDeDup shape — Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): cluster the corpus with the IVF coarse
    * quantizer, then WITHIN each cell order members by centroid cosine
    * ascending (the paper keeps the low-centroid-similarity extreme of
    * each duplicate group — the most diverse representative) and drop any
    * member whose cosine to an EARLIER member reaches the dedup threshold
    * (the triangular-mask formulation: the mask is static, not
    * sequential-greedy, so it is one join + one aggregation — no
    * iteration).
    *
    * This is the missing middle of the embedding-dedup family: q69 is the
    * bounded all-pairs demo, q38/q60 bucket candidates, and THIS is the
    * published end-to-end keep/drop policy. Scale posture: the quadratic
    * term is confined to a cell — SemDeDup's design point is k growing
    * with the corpus so cell size stays roughly constant (k ≈ N/1000 in
    * the paper); the centroid side broadcasts, cell assignment is one
    * shuffle on `cell`, and the within-cell pair join reuses that same
    * partitioning. A pathologically dense cell is an AQE skew split (or a
    * sub-cluster pass, the paper's own remedy). Every cosine is rounded
    * to 6 before comparison, so the keep set is engine- and
    * parallelism-exact. */
  def q146SemanticDedup(s: SparkSession, dir: String): DataFrame =
    semanticDedupImpl(s, dir, IvfCellCap)

  /** q146 body with the occupancy cap as a parameter (the q320/q332
    * convention — the third and last in-cell-quadratic consumer gets
    * the same hub defense): cells over the cap run the PAPER'S OWN
    * remedy, a sub-cluster pass — the within-cell prior-similarity
    * pairs additionally key on the second-choice cell (composite
    * (cell, alt) hash key), so a hub's O(n²) term splits up to
    * (k−1)-ways and keep/drop decisions become sub-cluster-local
    * (slightly MORE keeps inside a hub — the conservative direction
    * for a dedup). Clean path (every test SF) is byte-identical to
    * the classic plan; the census is the 1-row lshPairsCapped read. */
  private[graft] def semanticDedupImpl(s: SparkSession, dir: String,
                                       cap: Int): DataFrame = {
    val wPos = Window.partitionBy(col("cell"))
      .orderBy(col("ccos").asc, col("vec_id").asc)
    // persist: the positioned cell table feeds the census and both
    // sides of the pair join
    val pos = top2Cells(vecs(s, dir), coarseCentroids(s, dir))
      .select(col("vec_id"), col("v"), col("c1").as("cell"),
        col("ccos1").as("ccos"), col("c2").as("alt"))
      .withColumn("pos", row_number().over(wPos))
      .transform(Materialize.persist(_))
    pos.count()
    val mx = pos.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("m")).collect()(0)
    val maxOcc = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    // project each self-join down to (vec_id of the LATER member, both
    // vectors) before any union — the raw join carries duplicate names
    def proj(j: DataFrame): DataFrame =
      j.select(col("b.vec_id").as("vec_id"),
        col("a.v").as("av"), col("b.v").as("bv"))
    val pairs =
      if (maxOcc <= cap)
        proj(pos.as("a").join(pos.as("b"),
          col("a.cell") === col("b.cell") && col("a.pos") < col("b.pos")))
      else {
        val keys = pos.groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .filter(col("n") > cap).select(col("cell")).transform(Materialize.localCheckpoint(_))
        val small = pos.join(broadcast(keys), Seq("cell"), "left_anti")
        val big = pos.join(broadcast(keys), Seq("cell"), "left_semi")
        proj(small.as("a").join(small.as("b"),
            col("a.cell") === col("b.cell") && col("a.pos") < col("b.pos")))
          .unionByName(proj(big.as("a").join(big.as("b"),
            col("a.cell") === col("b.cell") &&
              col("a.alt") === col("b.alt") && col("a.pos") < col("b.pos"))))
      }
    val priorSim = pairs
      .select(col("vec_id"),
        round(CosineSimilarity(col("av"), col("bv")), 6).as("cos"))
      .groupBy(col("vec_id")).agg(max(col("cos")).as("max_prior_sim"))
    pos
      .join(priorSim, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("ccos"), col("max_prior_sim"),
        (col("max_prior_sim").isNull || col("max_prior_sim") < 0.38)
          .as("keep"))
  }

  /** Product-quantization assignment — the memory-side half of a
    * production ANN index (IVF picks the cell, PQ compresses the
    * residual): the 64-dim vector splits into 4 contiguous 16-dim
    * subvectors, each assigned to its nearest codeword (min L2, code-id
    * tiebreak) from a per-subspace codebook. Codebooks follow the IVF
    * family's deterministic convention (the first 4 vectors' subvectors
    * are the codewords; production swaps in per-subspace k-means, same
    * join shape). One broadcast of the 16-codeword table, one keyed
    * window — the corpus is scanned once, and the output code table is
    * 4 bytes/vector versus 512: the 128× compression that lets a
    * 100 TB embedding corpus fit an in-memory ANN tier. Report: per
    * (subspace, code) occupancy + mean quantization error. */
  /** Label-centroid similarity matrix — per-label embedding centroids and
    * their pairwise cosines: the domain-overlap diagnostic a corpus mixer
    * reads before trusting label/source boundaries (two "different"
    * domains whose centroids cosine ≈ 1 are the same distribution twice —
    * double-counting in disguise). The corpus is touched ONCE (posexplode
    * + map-side-combined per-(label, dim) mean); everything pairwise runs
    * over k centroids — k²·dims work regardless of corpus size. Per-dim
    * means round to 6 before any downstream use (the q68 convention:
    * partial-agg summation order differs between engines at ~1e-13 and
    * the round absorbs it), so the cosine matrix is cross-engine exact. */
  def q181LabelCentroidSim(s: SparkSession, dir: String): DataFrame = {
    val cent = Tables.embeddings(s, dir)
      .select(col("label"),
        posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(round(avg(col("x")), 6).as("m"))
    val nrm = cent.groupBy(col("label"))
      .agg(sqrt(sum(col("m") * col("m"))).as("nn"))
    val dot = cent.as("a").join(cent.as("b"),
        col("a.i") === col("b.i") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
      .agg(sum(col("a.m") * col("b.m")).as("dot"))
    dot.join(nrm.select(col("label").as("la"), col("nn").as("na")), "la")
      .join(nrm.select(col("label").as("lb"), col("nn").as("nb")), "lb")
      .select(col("la"), col("lb"),
        round(col("dot") / (col("na") * col("nb")), 4).as("cos"))
  }

  def q165PqAssign(s: SparkSession, dir: String): DataFrame = {
    val subs = vecs(s, dir).select(col("vec_id"), posexplode(expr(
        "transform(sequence(0, 3), m -> slice(v, m*16+1, 16))"))
      .as(Seq("m", "sub")))
    val cbs = subs.filter(col("vec_id") < 4)
      .select(col("m").as("cm"), col("vec_id").as("code"), col("sub").as("cw"))
    val scored = subs.join(broadcast(cbs), col("m") === col("cm"))
      .withColumn("dist2", round(expr(
        "aggregate(zip_with(sub, cw, (a, b) -> (a-b)*(a-b)), 0D, (acc, x) -> acc + x)"), 6))
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist2").asc, col("code").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("n"), round(avg(col("dist2")), 6).as("avg_dist2"))
  }

  /** Dimension-truncation audit (the Matryoshka / MRL question: can the
    * ANN tier run on a 16-dim prefix of the 64-dim embedding?): for each
    * query's exact 64-dim top-3, score the SAME pairs with the first-16
    * prefix and report both cosines plus the drift — the measured
    * evidence behind swapping a 4× cheaper vector into the index. Same
    * broadcast shape as the exact top-k (queries broadcast, one corpus
    * scan); the truncated rescore touches only the 18 reported pairs. */
  /** Matryoshka truncation-recall evaluation — the "which prefix dim can
    * we ship" decision table for matryoshka-style embeddings: for each
    * query vector, recall@10 of prefix-dim cosine retrieval (dims 8, 16,
    * 32) against full 64-dim cosine truth. q214 audits the top-3's
    * cosine DRIFT at one dim; this measures the retrieval consequence
    * across the dim ladder — the two together are the truncation
    * decision protocol. Cosines round to 4dp before ranking (the
    * q214/q37 cross-engine discipline), ranks tiebreak on vec_id. Scale
    * shape: the full-truth top-10 materializes once (Q×10 rows) and each
    * prefix run is the same broadcast-query scan as q37 — at 100 TB the
    * prefix scans would go through the IVF route (q60) instead of brute
    * force; the eval harness itself is query-bounded. */
  def q310MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val joined = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    def top10(dim: Option[Int]): DataFrame = {
      val (a, b) = dim match {
        case Some(d) => (slice(col("qv"), 1, d), slice(col("v"), 1, d))
        case None => (col("qv"), col("v"))
      }
      joined.withColumn("cos", round(CosineSimilarity(a, b), 4))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
        .select(col("q_id"), col("vec_id"))
    }
    val truth = Materialize.localCheckpoint(top10(None)) // Q×10 rows, reused 3×
    Seq(8, 16, 32).map { d =>
      truth.join(top10(Some(d)).withColumn("__hit", lit(1L)),
          Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .withColumn("dim", lit(d.toLong))
    }.reduce(_ unionByName _)
      .select(col("dim"), col("q_id"), col("n_hit"),
        round(col("n_hit") / 10.0, 4).as("recall"))
  }

  def q214TruncationAudit(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // 4dp cosines before ranking — the q37/q43 cross-engine discipline
    // (at 6dp a ~1-ULP summation-order difference vs the oracle can
    // straddle a rounding boundary and flip the row_number ranking)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos64", round(CosineSimilarity(col("qv"), col("v")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos64").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .withColumn("cos16", round(CosineSimilarity(
        slice(col("qv"), 1, 16), slice(col("v"), 1, 16)), 4))
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos64"),
        col("cos16"), round(abs(col("cos64") - col("cos16")), 4).as("drift"))
  }

  /** (vec_id, m, sub): the 4 × 16-dim subvector decomposition every PQ
    * stage shares. */
  private def pqSubs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"), posexplode(expr(
        "transform(sequence(0, 3), m -> slice(v, m*16+1, 16))"))
      .as(Seq("m", "sub")))
      .select(col("vec_id"), col("m"), col("sub"))

  private val pqL2 = expr(
    "round(aggregate(zip_with(sub, cw, (a, b) -> (a-b)*(a-b)), " +
      "0D, (acc, x) -> acc + x), 6)")

  /** TRAINED product-quantizer codebooks: per-subspace Lloyd k-means
    * (k = 4 codewords × 4 subspaces), seeded from the first-4 vectors'
    * subvectors — the q186 training-loop discipline applied per
    * subspace, WITHOUT a driver loop over subspaces: the subspace id is
    * an ordinary grouping key, so one distributed assign pass (subs ×
    * broadcast codebooks, min-L2 partial aggregation) and one
    * (m, code, dim) partial-sum shuffle train all 4 codebooks at once. Rounded means
    * (6dp) before any further use + fixed round count = the whole
    * trajectory replays verbatim in DuckDB as chained CTEs; the exact
    * rounded-fixpoint early stop commutes with the oracle's
    * unconditional rounds (a converged round is a no-op). Empty
    * clusters keep their previous codeword. Loop-carried state is 16
    * rows — localCheckpoint'ed per round (lineage cut). Output:
    * (cm, code, cw). */
  private[graft] def trainPqCodebooks(e: DataFrame, rounds: Int = 2): DataFrame = {
    val subs = Materialize.persist(pqSubs(e))
    subs.count()
    var cbs = subs.filter(col("vec_id") < 4)
      .select(col("m").as("cm"), col("vec_id").as("code"), col("sub").as("cw"))
      .transform(Materialize.localCheckpoint(_))
    val wCode = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist2").asc, col("code").asc)
    var it = 0
    var converged = false
    while (it < rounds && !converged) {
      // argmin via the window (not the pqEncode packed-long min): the
      // mean step needs the `sub` array back per winner, and any
      // aggregate whose buffer carries an array falls off
      // HashAggregateExec onto SortAggregate — measured slower than the
      // window at every SF tried (r19 A/B: q206 1.41 s → 1.93 s).
      val a = subs.join(broadcast(cbs), col("m") === col("cm"))
        .withColumn("dist2", pqL2)
        .withColumn("rn", row_number().over(wCode)).filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("code"), col("sub"))
      val means = a
        .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("i", "x")))
        .groupBy(col("m"), col("code"), col("i"))
        .agg(round(sum(col("x")) / count(lit(1)), 6).as("w"))
        .groupBy(col("m"), col("code"))
        .agg(expr("transform(sort_array(collect_list(struct(i, w))), p -> p.w)")
          .as("cw"))
        .select(col("m").as("cm"), col("code"), col("cw"))
      val kept = cbs.join(means.select(col("cm"), col("code")),
        Seq("cm", "code"), "left_anti")
      val next = Materialize.localCheckpoint(means.unionByName(kept)) // lineage cut
      // bounded driver read (16 rows): exact rounded-codeword equality
      converged = cbs.as("o").join(next.as("n"), Seq("cm", "code"))
        .filter(col("o.cw") =!= col("n.cw")).isEmpty
      cbs = next
      it += 1
    }
    cbs
  }

  /** PQ-train e2e: the trained codebooks themselves, one row per
    * (subspace, codeword, dim) — pins the full 2-round Lloyd trajectory
    * (assignments, rounded means, empty-cluster carry) against the
    * chained-CTE DuckDB replay. */
  def q206PqTrain(s: SparkSession, dir: String): DataFrame =
    trainPqCodebooks(vecs(s, dir))
      .select(col("cm").cast("long").as("m"), col("code"),
        posexplode(col("cw")).as(Seq("pos", "w")))
      .select(col("m"), col("code"), (col("pos") + 1).cast("long").as("i"),
        col("w"))

  /** IVF-PQ ADC search as a LIBRARY operator: caller supplies the
    * cell-assigned corpus, the codebooks, and the QUERY frame (q_id,
    * q_cell, sub per subspace — any frame, not a pinned id range). The
    * corpus is PQ-encoded once against the broadcast codebooks; each
    * query precomputes its (m, code) distance table (broadcast); in-cell
    * candidates score as 4 lookups + a sum. */
  /** PQ-encode a cell-assigned corpus against broadcast codebooks:
    * min-L2 codeword per (vector, subspace) → (vec_id, cell, m, code).
    * One corpus scan; shared by [[ivfpqAdcSearch]], the streaming
    * encode-append sink, and the batch-parity spec between them.
    *
    * The argmin is a packed-long min: dist2 is already 6dp-rounded and
    * non-negative (pqL2), so round(dist2*1e6)::long is order-isomorphic
    * to dist2 (distinct 6dp values differ by >= ~1 after the scale; the
    * same trick q342 uses for its dm key), and packing the codeword id
    * into the low byte makes min(dm*256 + code) EXACTLY the old
    * per-(vec_id, m) window's (dist2 asc, code asc) row_number()=1 row.
    * A long min hash-aggregates with a mutable buffer, so the map side
    * combines the corpus×16 scored rows down to corpus×4 BEFORE the
    * exchange (guide §2.3 "aggregate before you shuffle"); the window
    * form shuffled every scored row into a sort, and a min over
    * struct(dist2, code) falls off HashAggregateExec onto SortAggregate
    * (struct buffers are not mutable-type-supported). */
  private[graft] def pqEncode(assigned: DataFrame, cbs: DataFrame): DataFrame = {
    val subs = assigned.select(col("vec_id"), col("cell"), posexplode(expr(
        "transform(sequence(0, 3), m -> slice(v, m*16+1, 16))"))
      .as(Seq("m", "sub")))
    subs.join(broadcast(cbs), col("m") === col("cm"))
      .withColumn("packed",
        round(pqL2 * 1e6).cast("long") * 256L + col("code"))
      .groupBy(col("vec_id"), col("cell"), col("m"))
      .agg(min(col("packed")).as("__p"))
      .select(col("vec_id"), col("cell"), col("m"),
        (col("__p") % 256L).as("code"))
  }

  private[graft] def ivfpqAdcSearch(assigned: DataFrame, cbs: DataFrame,
                                    queries: DataFrame, topK: Int): DataFrame =
    adcSearchCodes(pqEncode(assigned, cbs), cbs, queries, topK)

  /** [[ivfpqAdcSearch]] downstream of the corpus encode — takes the
    * (vec_id, cell, m, code) frame directly so a dual-arm eval (q341:
    * single-probe and two-probe over the SAME corpus and codebooks) can
    * encode once and search twice (r18 verdict item 4: each arm
    * otherwise repeats the corpus-sized encode scan + shuffle). */
  private[graft] def adcSearchCodes(codes: DataFrame, cbs: DataFrame,
                                    queries: DataFrame, topK: Int): DataFrame = {
    // per-query ADC tables: raw query subvectors vs every codeword
    val dtTab = queries
      .select(col("q_id"), col("q_cell"), posexplode(expr(
          "transform(sequence(0, 3), m -> slice(qv, m*16+1, 16))"))
        .as(Seq("m", "sub")))
      .join(broadcast(cbs), col("m") === col("cm"))
      // distinct output names: both sides of the scoring join descend
      // from cbs, so same-named columns would alias to one attribute
      // (Spark would silently drop the equi-condition as trivially true)
      .select(col("q_id"), col("q_cell"), col("m").as("qm"),
        col("code").as("qcode"), pqL2.as("dt"))
    codes.join(broadcast(dtTab),
        col("cell") === col("q_cell") && col("m") === col("qm") &&
          col("code") === col("qcode"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"), col("cell"))
      .agg(round(sum(col("dt")), 6).as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adist").asc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("cell"), col("vec_id"), col("rank"), col("adist"))
  }

  /** IVF-PQ search with asymmetric distance computation (the IVFADC
    * pipeline of Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search") — the composition of the IVF coarse pruning
    * (q60) and the PQ code assignment (q165) into the actual ANN query
    * path: db vectors are PQ-ENCODED (4 subspaces × 16 dims, codebooks
    * TRAINED by the per-subspace Lloyd loop), queries stay RAW, and each
    * query precomputes a (m, code) → ||q_sub − codeword||² distance
    * TABLE so scoring a candidate is 4 table lookups + a sum — never a
    * 64-dim float loop per pair. Candidates are pruned to the query's
    * IVF cell before any scoring.
    *
    * 100 TB posture: encoding is one corpus scan against a broadcast
    * codebook; the per-query distance tables are queries×4×4 rows —
    * broadcast; the candidate join keys on the cell (IVF pruning) and
    * scores via the broadcast table, so the only corpus-sized work is
    * the encode scan and the in-cell top-k window. Per-subspace table
    * entries round to 6dp BEFORE the 4-term sum (round-before-use),
    * the ADC distance to 6 after — cross-engine exact. */
  def q193IvfpqSearch(s: SparkSession, dir: String): DataFrame = {
    val assigned = Materialize.persist(assignCells(vecs(s, dir), coarseCentroids(s, dir)))
    assigned.count()
    // codebooks are TRAINED (per-subspace Lloyd, [[trainPqCodebooks]]),
    // not the first-4 stand-in; the query frame is caller-supplied to
    // the library operator — here the 100..105 slice of the corpus.
    // Memoized per corpus like the coarse centroids (on a miss, training
    // reads the persisted `assigned` frame — it carries vec_id + v —
    // rather than re-scanning the embeddings table).
    val cbs = pqCodebooksFor(s, dir, residual = false)(
      trainPqCodebooks(assigned))
    val queries = assigned.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("cell").as("q_cell"),
        col("v").as("qv"))
    ivfpqAdcSearch(assigned, cbs, queries, topK = 3)
  }

  /** Multi-probe IVF-PQ search — [[q193IvfpqSearch]] with the q71/q332
    * probe knob on the PRODUCTION ANN path: each query scores ADC
    * candidates from its TOP-2 coarse cells instead of one. The probe
    * fan-out multiplies only the (queries×2×4×4-row) broadcast
    * distance-table side — the corpus encode scan and the in-cell
    * candidate join are unchanged, and a candidate can meet a query in
    * at most one probe (it carries exactly one cell), so no dedup (the
    * q332 lesson: a defensive dropDuplicates here shuffled ~1 TB at
    * the 30× rung for a semantic no-op). */
  def q340IvfpqMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val cents = coarseCentroids(s, dir)
    val e = vecs(s, dir)
    val assigned = Materialize.persist(assignCells(e, cents))
    assigned.count()
    val cbs = pqCodebooksFor(s, dir, residual = false)(
      trainPqCodebooks(assigned))
    val queries = rankedCells(
        e.filter(col("vec_id").between(100, 105)), cents, maxRn = 2)
      .select(col("vec_id").as("q_id"), col("cent_id").as("q_cell"),
        col("v").as("qv"))
    ivfpqAdcSearch(assigned, cbs, queries, topK = 3)
  }

  /** ADC recall eval — the q128 protocol applied to the IVF-PQ path:
    * recall@3 of single-probe (q193) and two-probe (q340) ADC search
    * against the exact cosine top-3, one row per (arm, query). This is
    * the number that prices the PQ probe knob the way q328 prices the
    * bitext one — both approximation layers (cell pruning AND 4-byte
    * codes) measured against truth, not asserted. Integer hit counts;
    * recall spends one division rounded 4 (the q128 convention). */
  def q341AdcRecall(s: SparkSession, dir: String): DataFrame = {
    val cents = coarseCentroids(s, dir)
    val e = vecs(s, dir)
    // The two arms are q193 (single-probe) and q340 (two-probe) over the
    // SAME corpus, centroids and codebooks — they differ only in the
    // query frame's probe fan-out, so the cell assignment AND the PQ
    // corpus encode are computed ONCE and both searches consume the
    // shared codes (r18 verdict item 4: composing the standalone queries
    // assigned + encoded the corpus twice for byte-identical frames).
    // The exact-truth pass reads the SAME persisted frame (its (vec_id,
    // v) columns) instead of re-reading the parquet scan.
    val assigned = Materialize.persist(assignCells(e, cents))
    assigned.count()
    val q = assigned.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exactTop = assigned.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"))
      .transform(Materialize.localCheckpoint(_)) // Q×3 rows, reused by both arms
    val cbs = pqCodebooksFor(s, dir, residual = false)(
      trainPqCodebooks(assigned))
    val codes = Materialize.localCheckpoint(pqEncode(assigned, cbs))
    val q1 = assigned.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("cell").as("q_cell"),
        col("v").as("qv"))
    val q2 = rankedCells(e.filter(col("vec_id").between(100, 105)), cents,
        maxRn = 2)
      .select(col("vec_id").as("q_id"), col("cent_id").as("q_cell"),
        col("v").as("qv"))
    def arm(name: String, res: DataFrame): DataFrame =
      exactTop.join(res.select(col("q_id"), col("vec_id"),
          lit(1L).as("__hit")), Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"),
          round(sum(coalesce(col("__hit"), lit(0L))) / count(lit(1)), 4)
            .as("recall"))
        .withColumn("arm", lit(name))
    arm("adc1", adcSearchCodes(codes, cbs, q1, topK = 3))
      .unionByName(arm("adc2", adcSearchCodes(codes, cbs, q2, topK = 3)))
      .select(col("arm"), col("q_id"), col("k"), col("n_hit"), col("recall"))
  }

  /** RESIDUAL IVF-PQ search — the true IVFADC encoding (Jégou et al.
    * 2011 §III: PQ quantizes v − centroid(cell), not v): residuals are
    * smaller and centered, so the same 8-bit code budget spends its
    * precision on the part of the vector the coarse cell did NOT
    * already explain. Implementation is the LIBRARY composition the
    * operator split was built for: the residual frame (one broadcast
    * k-row centroid join + a zip_with subtract, zero shuffle) feeds
    * the UNCHANGED trainPqCodebooks and ivfpqAdcSearch — encode, train
    * and search never learn they run on residuals. Residual values are
    * exact (raw doubles minus 6dp-rounded centroid literals), so the
    * whole trajectory replays in DuckDB like the raw chain. */
  def q342IvfpqResidual(s: SparkSession, dir: String): DataFrame = {
    val res = Materialize.persist(residualVecs(s, dir))
    res.count()
    val cbs = pqCodebooksFor(s, dir, residual = true)(trainPqCodebooks(res))
    val queries = res.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("cell").as("q_cell"),
        col("v").as("qv"))
    ivfpqAdcSearch(res, cbs, queries, topK = 3)
  }

  /** Raw-vs-residual ADC recall — the eval that decides whether the
    * residual refinement (q342) earns its centroid join on THIS
    * corpus: recall@3 of the raw-encoded (q193) and residual-encoded
    * (q342) single-probe searches against the exact cosine top-3, one
    * row per (arm, query) — q341's protocol with the encoding, not
    * the probe count, as the variable. */
  def q343ResidualGain(s: SparkSession, dir: String): DataFrame = {
    // The raw arm IS q193's pipeline, but composed from the standalone
    // query it re-assigned the corpus privately and the exact-truth pass
    // re-read the parquet scan; ONE persisted assignment now feeds the
    // truth pass (same (vec_id, v) rows), the raw encode, and the raw
    // query frame (the q341 sharing, applied here). The residual arm
    // keeps its own encode — residual vectors are a different corpus by
    // construction, so two encodes are intrinsic to this eval.
    val cents = coarseCentroids(s, dir)
    val assigned = Materialize.persist(assignCells(vecs(s, dir), cents))
    assigned.count()
    val q = assigned.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exactTop = assigned.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"))
      .transform(Materialize.localCheckpoint(_))
    val cbs = pqCodebooksFor(s, dir, residual = false)(
      trainPqCodebooks(assigned))
    val q1 = assigned.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("cell").as("q_cell"),
        col("v").as("qv"))
    def arm(name: String, res: DataFrame): DataFrame =
      exactTop.join(res.select(col("q_id"), col("vec_id"),
          lit(1L).as("__hit")), Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"),
          round(sum(coalesce(col("__hit"), lit(0L))) / count(lit(1)), 4)
            .as("recall"))
        .withColumn("arm", lit(name))
    // one terminal materialization — no intermediate eager checkpoints:
    // at bench scale the job BARRIERS cost more than the corpus scans
    // they stage (measured: a codes+rawArm-checkpointed variant ran
    // q343 1.1 s SLOWER than base despite one fewer scan)
    arm("raw", ivfpqAdcSearch(assigned, cbs, q1, topK = 3))
      .unionByName(arm("residual", q342IvfpqResidual(s, dir)))
      .select(col("arm"), col("q_id"), col("k"), col("n_hit"), col("recall"))
  }

  /** PQ quantization-distortion report — the codebook-quality number
    * that gates the ADC family the way q328's recall floor gates the
    * coarse quantizer. For each encoding arm (raw | residual) and
    * subspace: the corpus-average min-L2 distortion under the SEED
    * codebook (the first-4 subvectors — Lloyd's round-0 state) and
    * under the TRAINED one. Training monotonically improves this
    * (k-means descent), so `trained < seed` per (arm, subspace) is a
    * pinned spec invariant — a codebook regression (bad join, wrong
    * rounding, dead codewords) shows up here even on corpora where
    * top-k recall is noise-bound (the isotropic synthetic embeddings:
    * measured ADC recall@3 ≈ 0.06 — a recall floor would pin noise,
    * distortion is the signal). Determinism: per-(vector, subspace)
    * min over 6dp-rounded distances as micro-integers, ONE division at
    * the end. Scale shape: two corpus scans per arm (seed + trained
    * scoring), each a broadcast join + partial-aggregable min/sum. */
  def q346PqDistortion(s: SparkSession, dir: String): DataFrame = {
    def seedCbs(base: DataFrame): DataFrame =
      pqSubs(base).filter(col("vec_id") < 4)
        .select(col("m").as("cm"), col("vec_id").as("code"),
          col("sub").as("cw"))
    def armStats(arm: String, base: DataFrame, trained: DataFrame): DataFrame = {
      val subs = pqSubs(base)
      def stage(st: String, cb: DataFrame): DataFrame =
        subs.join(broadcast(cb), col("m") === col("cm"))
          .withColumn("dm", round(pqL2 * 1e6).cast("long"))
          .groupBy(col("vec_id"), col("m")).agg(min(col("dm")).as("md"))
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n"), sum(col("md")).as("smd"))
          .select(lit(arm).as("arm"), lit(st).as("stage"),
            col("m").cast("long").as("m"), col("n"),
            round(col("smd") / (col("n") * lit(1e6)), 6).as("avg_dist2"))
      stage("seed", seedCbs(base)).unionByName(stage("trained", trained))
    }
    val raw = vecs(s, dir)
    val rawStats = armStats("raw", raw,
      pqCodebooksFor(s, dir, residual = false)(trainPqCodebooks(raw)))
    val res = Materialize.persist(residualVecs(s, dir))
    res.count()
    rawStats.unionByName(armStats("residual", res,
        pqCodebooksFor(s, dir, residual = true)(trainPqCodebooks(res))))
  }

  /** SQ8 scalar quantization eval — the third compression rung next to
    * PQ (q193-family) and Matryoshka truncation (q310): each dimension
    * quantizes to an 8-bit code against its corpus [min, max] span
    * (the FAISS SQ8 contract — 4× smaller than float32, no training),
    * vectors reconstruct as mn + q·span/255, and the eval reports
    * recall@3 of reconstructed-cosine search against the exact top-3
    * plus the query vector's own reconstruction error. Per-dim spans
    * are a 64-row bounded driver read (min/max are order-exact, no
    * float-sum issue); ranking uses 4dp cosines (the q214 convention)
    * and the error is a per-dim micro-integer sum — cross-engine
    * exact. Scale shape: one corpus scan to quantize (broadcast
    * 64-element literal spans), then the q37 broadcast-query scoring
    * scan; nothing shuffles corpus-wide. */
  def q347Sq8Recall(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    // per-dim min/max: 64-row driver read (the centroid-artifact class)
    val mm = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val mnArr = array(mm.map(t => lit(t._2._1)): _*)
    val spanArr = array(mm.map(t => lit(t._2._2 - t._2._1)): _*)
    // q = round((x-mn)*255/span); recon = q*span/255 + mn — operation
    // order mirrored exactly in the oracle
    val rec = e.select(col("vec_id"),
      zip_with(
        zip_with(
          zip_with(col("v"), mnArr, (x, a) => x - a),
          spanArr, (d, sp) => when(sp === 0d, lit(0d)).otherwise(round(d * 255 / sp))),
        spanArr, (q, sp) => q * sp / 255).as("vr"), col("v"))
    val recon = rec.select(col("vec_id"),
      zip_with(col("vr"), mnArr, (y, a) => y + a).as("vr"), col("v"))
      .transform(Materialize.persist(_))
    recon.count()
    val q = recon.filter(col("vec_id").between(100, 105))
    val wE = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exactTop = recon.join(broadcast(
        q.select(col("vec_id").as("q_id"), col("v").as("qv"))),
        col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 4))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"))
    val sqTop = recon.join(broadcast(
        q.select(col("vec_id").as("q_id"), col("vr").as("qr"))),
        col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qr"), col("vr")), 4))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"), lit(1L).as("__hit"))
    val err = q.select(col("vec_id").as("q_id"),
      aggregate(
        zip_with(col("v"), col("vr"), (x, y) => round((x - y) * (x - y) * 1e12)),
        lit(0L), (acc, z) => acc + z.cast("long")).as("mse_micro"))
    exactTop.join(sqTop, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"),
        round(sum(coalesce(col("__hit"), lit(0L))) / count(lit(1)), 4)
          .as("recall"))
      .join(err, "q_id")
      .select(col("q_id"), col("k"), col("n_hit"), col("recall"),
        col("mse_micro"))
  }

  /** PQ codeword-usage histogram — the index-health report for the
    * codebook layer (FAISS's code-usage histogram next to q337/q338's
    * cell census): for each (flavor, subspace, codeword), how many
    * corpus vectors encode to it. A DEAD codeword (n_used = 0 — it
    * still appears, via the right join against the codebook) wastes a
    * quarter of that subspace's code space; heavy skew means the
    * trainer collapsed. One encode scan per flavor (the q193 encode,
    * memoized codebooks) + a 16-row aggregation. */
  def q348CodeUsage(s: SparkSession, dir: String): DataFrame = {
    val raw = vecs(s, dir)
    def usage(flavor: String, base: DataFrame, cbs: DataFrame): DataFrame = {
      val assigned = base.withColumn("cell", lit(0L)) // cell unused here
      val counts = pqEncode(assigned, cbs)
        .groupBy(col("m"), col("code")).agg(count(lit(1)).as("n_used"))
      cbs.select(col("cm").cast("long").as("m"), col("code"))
        .join(counts, Seq("m", "code"), "left")
        .select(lit(flavor).as("flavor"), col("m"), col("code"),
          coalesce(col("n_used"), lit(0L)).as("n_used"))
    }
    val rawU = usage("raw", raw,
      pqCodebooksFor(s, dir, residual = false)(trainPqCodebooks(raw)))
    val res = Materialize.persist(residualVecs(s, dir))
    res.count()
    rawU.unionByName(usage("residual", res,
        pqCodebooksFor(s, dir, residual = true)(trainPqCodebooks(res))))
  }

  /** Index-refresh drift — the number that prices the FROZEN-INDEX
    * contract ([[IvfIndex]] artifact, [[graft.streaming.StreamOps
    * .indexAppendSink]]): treat vec_id % 10 == 9 as the post-build
    * arrivals (10% growth), train a quantizer WITHOUT them (what the
    * serving index was built from), and compare every vector's cell
    * under the frozen quantizer vs the fully retrained one (`moved` =
    * routed to a centroid of a different seed lineage). The moved-rate
    * is the staleness measure an index operator reads against the
    * occupancy monitor before scheduling the offline refresh (q68's
    * Lloyd step / a full [[IvfIndex.build]]). Both trainings replay
    * verbatim in DuckDB; the frozen training is a one-off here (not
    * cached — it is not THE corpus artifact). Scale shape: two
    * trainings (bounded driver state each) + two zero-shuffle
    * assignment scans + a vec_id equi-join. */
  def q349RefreshDrift(s: SparkSession, dir: String): DataFrame = {
    val full = vecs(s, dir)
    val oldCents = trainCentroids(full.filter(col("vec_id") % 10 =!= 9))
    val frozen = assignCells(full, oldCents)
      .select(col("vec_id"), col("cell").as("cell_frozen"))
    val fresh = assignCells(full, coarseCentroids(s, dir))
      .select(col("vec_id"), col("cell").as("cell_fresh"))
    frozen.join(fresh, "vec_id")
      .select(col("vec_id"), col("cell_frozen"), col("cell_fresh"),
        (col("cell_frozen") =!= col("cell_fresh")).cast("long").as("moved"))
  }

  /** kNN-graph edges — the build step of graph-based ANN (the NSW/HNSW
    * family's base layer): each vector's top-`k` IN-CELL neighbors by
    * micro-integer cosine. Candidates come from the IVF cell equi-join
    * with the full [[cappedCellCandidates]] hub discipline (occupancy
    * census + (cell, second-choice) diversion), so the build is
    * Σ|cell|² bounded and NEVER all-pairs — with k ≈ √N cells that is
    * ~N·√N/… per-cell work, the same shape SemDeDup (q146) ships.
    * Output: (src_id, tgt_id, rank, cm). */
  private[graft] def knnGraphEdges(s: SparkSession, dir: String,
                                   k: Int): DataFrame = {
    val t2 = Materialize.persist(top2Cells(vecs(s, dir), coarseCentroids(s, dir)))
    t2.count()
    knnGraphEdgesFrom(t2, k)
  }

  /** [[knnGraphEdges]] downstream of the top-2 cell scan — takes the
    * persisted (vec_id, v, c1, ccos1, c2) frame so q351/q352 can share
    * ONE corpus×centroid scoring pass between the graph build, the
    * cell assignment (c1 IS assignCells' cell: same (ccos desc, id asc)
    * argmax) and the beam's vector lookups. Returns an eagerly
    * checkpointed edge list (materializes while the caller's cache is
    * hot). */
  private[graft] def knnGraphEdgesFrom(t2: DataFrame, k: Int): DataFrame = {
    val a = t2.select(col("vec_id").as("src_id"), col("v").as("va"),
      col("c1").as("cell"), col("c2").as("alta"))
    val b = t2.select(col("vec_id").as("tgt_id"), col("v").as("vb"),
      col("c1").as("cell"), col("c2").as("altb"))
    val pairs = cappedCellCandidates(a, b, IvfCellCap)
      .filter(col("src_id") =!= col("tgt_id"))
      .withColumn("cm",
        round(round(CosineSimilarity(col("va"), col("vb")), 6) * 1e6)
          .cast("long"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cm").desc, col("tgt_id").asc)
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("tgt_id"), col("rank"), col("cm"))
      .transform(Materialize.localCheckpoint(_))
  }

  /** kNN-graph build as a query: every vector's top-3 in-cell
    * neighbors — the navigable-graph artifact q351 searches (and a
    * useful product in its own right: the doc-similarity edge list a
    * recommender or link-dedup pass consumes). */
  def q350KnnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphEdges(s, dir, 3)
      .select(col("src_id"), col("tgt_id"), col("rank"),
        round(col("cm") / 1e6, 6).as("cos"))

  /** Graph-based ANN search — CLUSTER-ROUTED beam search over the q350
    * kNN graph (the SPANN/NSW hybrid: IVF routing picks the
    * neighborhood, the navigable graph refines inside it; a fixed hop
    * budget instead of a convergence test so the trajectory replays in
    * SQL). Entry point per query = the md5-min member of the query's
    * own coarse cell (the graph's edges are cell-local, so routing
    * must land the beam inside the right cell — exactly the role the
    * coarse quantizer already plays for ADC search); then 3 rounds of
    * "expand the beam's out-edges, score candidates against the query,
    * keep the best 4", and report each query's final top-3. Re-scoring
    * a node is idempotent (deterministic micro-cosine), so the beam
    * needs no visited set — beam ∪ neighbors, distinct, score, top-4.
    *
    * 100 TB posture: the beam frame is queries×4 rows; each hop is ONE
    * broadcast-beam join against the (corpus×3)-row edge list + one
    * broadcast-candidate join against the corpus for vectors + scoring
    * — per-hop cost is edge-lookup + |cand| cosines, never a corpus
    * shuffle; hops are fixed (the HNSW layer hierarchy's job is to
    * shrink the hop count — cluster routing is the flat-graph
    * equivalent, and the entry pick is one broadcast-query join). */
  def q351GraphSearch(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus×centroid scoring pass serves the graph build (top-2
    // cells), the cell assignment (c1) and the beam's vector lookups —
    // the standalone query previously scored the corpus twice (top-2 for
    // the graph + argmax for the assignment) and re-read the parquet scan
    // per beam hop (r18 verdict item 5's shape, applied to q351 itself).
    val t2 = Materialize.persist(top2Cells(vecs(s, dir), coarseCentroids(s, dir)))
    t2.count()
    val edges = knnGraphEdgesFrom(t2, 3).select(col("src_id"), col("tgt_id"))
    val assigned = t2.select(col("vec_id"), col("v"), col("c1").as("cell"))
    graphSearchFrom(assigned, edges)
  }

  /** [[q351GraphSearch]] downstream of the cell assignment: the
    * cluster-routed beam as a function of a caller-supplied (vec_id, v,
    * cell) frame and a (src_id, tgt_id) edge list. Caller persists the
    * assignment and materializes the result before dropping it. */
  private[graft] def graphSearchFrom(assigned: DataFrame,
                                     edges: DataFrame): DataFrame = {
    val queries = assigned.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("cell").as("q_cell"),
        col("v").as("qv"))
      .transform(Materialize.localCheckpoint(_)) // 6 rows
    // per-query entry: md5-min member of the query's cell (not the
    // query itself) — one broadcast join + a per-query window
    val wEntry = Window.partitionBy(col("q_id"))
      .orderBy(col("h").asc, col("vec_id").asc)
    val entries = assigned
      .join(broadcast(queries.select(col("q_id"), col("q_cell"))),
        col("cell") === col("q_cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .withColumn("rn", row_number().over(wEntry)).filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id").as("node"))
    def score(cand: DataFrame): DataFrame =
      assigned.select(col("vec_id").as("node"), col("v"))
        .join(broadcast(cand), "node")
        .join(broadcast(queries.select(col("q_id"), col("qv"))), "q_id")
        .filter(col("node") =!= col("q_id"))
        .withColumn("cm",
          round(round(CosineSimilarity(col("qv"), col("v")), 6) * 1e6)
            .cast("long"))
        .select(col("q_id"), col("node"), col("cm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cm").desc, col("node").asc)
    var beam = score(entries)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
      .select(col("q_id"), col("node"), col("cm")).transform(Materialize.localCheckpoint(_, eager = false))
    for (_ <- 1 to 3) {
      val cand = beam.select(col("q_id"), col("node"))
        .unionByName(edges.join(broadcast(beam),
            col("src_id") === col("node"))
          .select(col("q_id"), col("tgt_id").as("node")))
        .distinct()
      beam = score(cand)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
        .select(col("q_id"), col("node"), col("cm")).transform(Materialize.localCheckpoint(_, eager = false))
    }
    beam.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("node").as("vec_id"), col("rank"),
        round(col("cm") / 1e6, 6).as("cos"))
  }

  /** Graph-search recall eval — the q341/q343 protocol applied to the
    * cluster-routed beam: recall@3 of q351's beam results against the
    * EXACT IN-CELL top-3 (q60's frame — the strongest result any
    * cell-local method can reach, so this isolates what the BEAM loses
    * vs what cell pruning already gave up; q328 prices the latter).
    * One row per query; integer hits, one rounded division. */
  def q352GraphRecall(s: SparkSession, dir: String): DataFrame = {
    // The exact arm (q60's in-cell top-3) and the beam arm (q351) both
    // start from the same corpus×centroid scoring — composed from the
    // standalone queries they assigned the corpus THREE times (q60's
    // argmax, q351's graph top-2, q351's argmax). One persisted top-2
    // scan now feeds the graph build, both arms' assignment (c1 = the
    // argmax cell) and the beam's vector lookups (r18 verdict item 5).
    val t2 = Materialize.persist(top2Cells(vecs(s, dir), coarseCentroids(s, dir)))
    t2.count()
    val assigned = t2.select(col("vec_id"), col("v"), col("c1").as("cell"))
    val edges = knnGraphEdgesFrom(t2, 3).select(col("src_id"), col("tgt_id"))
    val exact = ivfAnnFrom(assigned).select(col("q_id"), col("vec_id"))
    val beam = graphSearchFrom(assigned, edges)
      .select(col("q_id"), col("vec_id"), lit(1L).as("__hit"))
    exact.join(beam, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"),
        round(sum(coalesce(col("__hit"), lit(0L))) / count(lit(1)), 4)
          .as("recall"))
      .select(col("q_id"), col("k"), col("n_hit"), col("recall"))
  }

  /** Scratch artifact root for the q344/q345 round-trip queries: a
    * deterministic per-corpus location under the JVM tmpdir (the corpus
    * store under test is read-only, so "beside the corpus" binds to the
    * writable twin the `graft.index.dir` conf models in production). */
  private def scratchIndexRoot(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(canonicalDir(dir).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_index_$h").getPath
  }

  /** Index-artifact round trip as a data-plane query: BUILD the on-disk
    * index for the corpus ([[IvfIndex.build]] — centroids + both
    * codebook flavors + fingerprint meta), LOAD the centroids back
    * through the fingerprint gate (explicit root — the session cache is
    * not consulted for the loaded copy), and emit every vector's cell
    * under the LOADED centroids. Hash-matching the DuckDB trained
    * replay proves the persisted artifact reproduces the in-session
    * training bit-exactly — the train-once/load-many contract, oracled.
    * Scale shape: the build is the (memoized) training plus three tiny
    * parquet writes; the assignment is the standard zero-shuffle argmax
    * scan. */
  def q344ArtifactAssign(s: SparkSession, dir: String): DataFrame = {
    val root = scratchIndexRoot(dir)
    IvfIndex.build(s, dir, root)
    val cents = IvfIndex.loadCentroidsAt(s, dir, root).getOrElse(
      sys.error(s"q344: just-built index at $root failed its fingerprint gate"))
    assignCells(vecs(s, dir), cents).select(col("vec_id"), col("cell"))
  }

  /** ADC search SERVED FROM the persisted index — [[q193IvfpqSearch]]
    * with centroids AND raw codebooks loaded from the q344 artifact
    * instead of the in-session trainer: the production query path of an
    * index-serving job (open artifact → encode/assign → search). Equal
    * results to q193 by construction; sharing q193's oracle pins that
    * equality through DuckDB rather than asserting it. */
  def q345ArtifactAdc(s: SparkSession, dir: String): DataFrame = {
    val root = scratchIndexRoot(dir)
    IvfIndex.build(s, dir, root)
    val cents = IvfIndex.loadCentroidsAt(s, dir, root).getOrElse(
      sys.error(s"q345: just-built index at $root failed its fingerprint gate"))
    val cbRows = IvfIndex.loadCodebooksAt(s, dir, IvfIndex.FlavorRaw, root)
      .getOrElse(sys.error(s"q345: no raw codebooks in the index at $root"))
    val assigned = Materialize.persist(assignCells(vecs(s, dir), cents))
    assigned.count()
    val queries = assigned.filter(col("vec_id").between(100, 105))
      .select(col("vec_id").as("q_id"), col("cell").as("q_cell"),
        col("v").as("qv"))
    ivfpqAdcSearch(assigned, codebookDf(s, cbRows), queries, topK = 3)
  }

  /** k-center greedy coreset (Gonzalez 1985; the SemDeDup/D4-style
    * DIVERSITY selection next to q146's redundancy removal): pick 8
    * maximally-spread vectors — seed = min vec_id, then 7× "the point
    * farthest from its nearest selected center". The greedy gives a
    * 2-approximation of the optimal k-center radius; dist2 at selection
    * is that radius trajectory (non-increasing), directly usable as the
    * coverage-radius audit of the selected coreset. Scale shape per
    * round: ONE codegen'd least(mind, d²(v, new_center)) map over the
    * corpus against a broadcast 64-long literal center — no shuffle at
    * all inside the loop — plus a TakeOrdered(1) argmax and a
    * localCheckpoint lineage cut; the k 1-row collects are the bounded
    * driver reads of the q186 convention. Coordinates quantize to
    * integer micro-units first, so every distance and argmax comparison
    * is integer-exact in both engines (no float-sum order anywhere). */
  /** Library form: greedy k-center over a caller-supplied
    * (vec_id, v: array<long>) frame of INTEGER-quantized vectors (the
    * q193 parameterization convention — q270 is the fixture binding).
    * Returns (sel_idx, vec_id, dist2): selection order and the squared
    * covering radius at each pick. */
  private[graft] def kcenterCoreset(s: SparkSession, vectors: DataFrame,
                                    k: Int): DataFrame = {
    // growth guard: each pick is a sequential 1-row driver argmax plus a
    // localCheckpoint lineage cut — fine at coreset-sized k, quadratic in
    // driver round-trips if a caller raises k toward corpus scale. Past
    // this bound the right implementation is the map-side variant (one
    // pass per BATCH of picks: per-partition local argmax folded on the
    // driver), not this loop — fail loudly instead of degrading silently.
    require(k <= 64,
      s"kcenterCoreset is a sequential greedy loop (k driver round-trips); " +
        s"k=$k > 64 needs a batched per-partition argmax variant")
    def d2(v: org.apache.spark.sql.Column, c: Seq[Long]) =
      aggregate(zip_with(v, array(c.map(lit(_)): _*), (x, y) => (x - y) * (x - y)),
        lit(0L), (a, x) => a + x)
    val q = Materialize.localCheckpoint(vectors)
    val seed = q.orderBy(col("vec_id")).limit(1).collect()(0)
    var selected = Vector((seed.getLong(0), 0L))
    var cur = q.filter(col("vec_id") =!= seed.getLong(0))
      .withColumn("mind", d2(col("v"), seed.getSeq[Long](1)))
      .transform(Materialize.localCheckpoint(_))
    for (_ <- 1 until k) {
      val r = cur.orderBy(col("mind").desc, col("vec_id")).limit(1).collect()(0)
      selected :+= ((r.getLong(0), r.getLong(2)))
      cur = cur.filter(col("vec_id") =!= r.getLong(0))
        .withColumn("mind", least(col("mind"), d2(col("v"), r.getSeq[Long](1))))
        .transform(Materialize.localCheckpoint(_))
    }
    import s.implicits._
    selected.zipWithIndex
      .map { case ((id, d), i) => (i.toLong, id, d) }
      .toDF("sel_idx", "vec_id", "dist2")
  }

  def q270KcenterCoreset(s: SparkSession, dir: String): DataFrame =
    kcenterCoreset(s, Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("v")), k = 8)

  private val kcenterOracleSql: String = {
    def dist(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i])))"
    val sb = new StringBuilder
    sb ++= """WITH q AS (SELECT vec_id,
          list_transform(embedding, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        FROM embeddings),
      c0 AS (SELECT vec_id, v, CAST(0 AS BIGINT) AS mind
             FROM q ORDER BY vec_id LIMIT 1),
      """
    sb ++= s"d1 AS (SELECT q.vec_id, q.v, ${dist("q", "c")} AS mind " +
      "FROM q, c0 c WHERE q.vec_id <> c.vec_id)"
    for (i <- 1 until 8) {
      sb ++= s", c$i AS (SELECT vec_id, v, mind FROM d$i " +
        "ORDER BY mind DESC, vec_id LIMIT 1)"
      if (i < 7)
        sb ++= s", d${i + 1} AS (SELECT d.vec_id, d.v, " +
          s"least(d.mind, ${dist("d", "c")}) AS mind " +
          s"FROM d$i d, c$i c WHERE d.vec_id <> c.vec_id)"
    }
    sb ++= " SELECT * FROM (" + (0 until 8).map(i =>
      s"SELECT CAST($i AS BIGINT) AS sel_idx, vec_id, " +
        s"CAST(mind AS BIGINT) AS dist2 FROM c$i").mkString(" UNION ALL ") + ")"
    sb.toString
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009):
    * a lexical arm (per-query BM25 over the query document's distinct
    * terms, q175's scorer generalized from a literal term list to a
    * broadcast query-term table) and a semantic arm (cosine top-k,
    * q37's scorer) fuse by RRF — score = Σ 1/(60 + rank_arm) over the
    * arms that retrieved the doc — the standard fusion that needs NO
    * score calibration between arms because it consumes only ranks.
    *
    * Scale shape: the corpus term explode is pruned by the broadcast
    * query-term set BEFORE its one shuffle; the semantic arm broadcasts
    * the query vectors; fusion unions two rank lists of queries×k rows —
    * bounded — and every float that feeds a rank is pinned first
    * (per-term BM25 contributions quantize to integer micro-units
    * BEFORE the per-doc sum; cos rounds to 6dp; the RRF sum has ≤ 2
    * addends, so its pre-round value is order-independent). */
  def q278HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val nQ = 3; val kArm = 20; val kOut = 10
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val stats = d.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("toks")).cast("double")).as("avgdl"))
    val qt = d.filter(col("doc_id") < nQ)
      .select(col("doc_id").as("q_id"), explode(col("toks")).as("term"))
      .distinct().transform(Materialize.localCheckpoint(_))
    val tf = d.select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qt.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dft = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val lexW = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25_micro").desc, col("doc_id").asc)
    // per-term contributions quantize to integer micro-units BEFORE the
    // per-(query, doc) sum — up to |vocab| float addends would otherwise
    // make the ranking score order-dependent in the last ulp
    val lex = tf.join(broadcast(dft), "term").crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .withColumn("cm", expr("CAST(round(contrib * 1000000) AS BIGINT)"))
      .join(broadcast(qt), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("cm")).as("bm25_micro"))
      .withColumn("r", row_number().over(lexW)).filter(col("r") <= kArm)
      .select(col("q_id"), col("doc_id"), col("r"))
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val semW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val sem = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(CosineSimilarity(col("qv"), col("v")), 6))
      .withColumn("r", row_number().over(semW)).filter(col("r") <= kArm)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("r"))
    val fuseW = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.unionByName(sem)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(lit(1.0) / (lit(60.0) + col("r"))), 6).as("rrf"),
        count(lit(1)).as("n_arms"))
      .withColumn("rank", row_number().over(fuseW).cast("long"))
      .filter(col("rank") <= kOut)
      .select(col("q_id"), col("doc_id"), col("rank"), col("rrf"), col("n_arms"))
  }

  /** Retrieval-quality evaluation over the hybrid retriever — MRR and
    * nDCG@10 of q278's fused ranking against label relevance (a ranked
    * doc is relevant iff it shares the query's embedding label), the
    * eval that closes the retrieval loop the way q286/q287 close the
    * model loop and q288 closes the blocking loop: build the index, run
    * the queries, MEASURE before trusting it. Discount weights
    * round(10⁶/log₂(rank+1)) are integers (margins ≥ 0.16 from any .5
    * boundary for ranks 1..10 — verified), so DCG/IDCG are exact long
    * sums; the ideal DCG caps at min(10, |label| − 1) relevant docs
    * (the query's own row is excluded by q278). Scale shape: the ranked
    * table is (queries × 10) rows; label lookups are joins against the
    * label table; the per-label census is label-cardinality-bounded. */
  def q297RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val ranked = q278HybridRrf(s, dir)
    val lab = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val labCnt = lab.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))
    val qlab = lab.select(col("vec_id").as("q_id"), col("label").as("qlabel"))
      .join(labCnt.select(col("label").as("qlabel"), col("n_lab")),
        Seq("qlabel"))
    ranked
      .join(qlab, Seq("q_id"))
      .join(lab.select(col("vec_id").as("doc_id"),
        col("label").as("dlabel")), Seq("doc_id"))
      .withColumn("rel", (col("dlabel") === col("qlabel")).cast("long"))
      .withColumn("w",
        round(lit(1e6) / log2(col("rank") + 1)).cast("long"))
      .groupBy(col("q_id"), col("n_lab"))
      .agg(sum(col("rel")).as("n_rel"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"),
        sum(when(col("rel") === 1, col("w")).otherwise(0L)).as("dcg_micro"))
      .withColumn("m", least(lit(10L), col("n_lab") - 1))
      .withColumn("idcg_micro", expr(
        "IF(m >= 1, aggregate(sequence(1, CAST(m AS INT)), 0L, " +
          "(acc, i) -> acc + CAST(round(1000000.0 / log2(CAST(i AS DOUBLE)" +
          " + 1)) AS BIGINT)), 0L)"))
      .select(col("q_id"), col("n_rel"), col("first_rel_rank"),
        when(col("first_rel_rank").isNotNull,
          round(lit(1e6) / col("first_rel_rank")).cast("long"))
          .as("rr_micro"),
        col("dcg_micro"), col("idcg_micro"),
        round(col("dcg_micro") /
          nullif(col("idcg_micro").cast("double"), lit(0.0)), 6).as("ndcg"))
  }

  /** Contrastive triplet mining — the training-data EXPORTER for
    * embedding-model finetuning, composed from three already-oracled
    * operators: anchors are docs with an LSH near-dup (q34), the
    * positive is the anchor's smallest paired doc, and the negative is
    * the hardest embedding neighbor OUTSIDE the anchor's dedup cluster
    * (q110's labels exclude everything transitively near-duplicate, so
    * a chained duplicate can never leak in as a "negative" — the
    * false-negative trap naive cosine mining has). Scale shape: the
    * negative search CELL-PRUNES through the IVF coarse quantizer
    * (q60/q193's own path) — the anchor probes its assigned cell and
    * only cell-local candidates get the exact cosine + cluster-exclusion
    * filter, so the join is a broadcast EQUI-join on the cell key, never
    * the corpus × anchors non-equi product (round-11's named
    * scale-killer: with web-crawl dup rates, anchors are a large corpus
    * fraction and the dense product blows up quadratically). The mined
    * negative is the hardest IN-CELL candidate — exactly the approximate
    * hard-negative semantics an ANN-served mining job ships. */
  def q279TripletMining(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.TextOps.q34MinhashLsh(s, dir)
    val pos = pairs.groupBy(col("doc_a").as("anchor_id"))
      .agg(min(col("doc_b")).as("pos_id"))
    // reuse the checkpointed pair frame for the cluster labels — q110
    // called directly would run the whole LSH pipeline a second time
    val canon = graft.operators.TextOps.dedupClustersFromPairs(s, dir, pairs)
    val cells = Materialize.persist(assignCells(vecs(s, dir), coarseCentroids(s, dir)))
    val anchors = pos
      .join(cells.select(col("vec_id").as("anchor_id"), col("v").as("av"),
        col("cell")), Seq("anchor_id"))
      .join(canon.select(col("doc_id").as("anchor_id"),
        col("canonical_id").as("ac")), Seq("anchor_id"))
      .transform(Materialize.localCheckpoint(_)) // pair-bound
    val cand = cells.join(canon.select(col("doc_id").as("vec_id"),
      col("canonical_id").as("cc")), Seq("vec_id"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.join(broadcast(anchors), Seq("cell"))
      .filter(col("cc") =!= col("ac"))
      .withColumn("cos", round(CosineSimilarity(col("av"), col("v")), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("pos_id"), col("vec_id").as("neg_id"),
        col("cos").as("neg_cos"))
  }

  /** Clustering quality — purity and NMI of the IVF cell assignment
    * against the embeddings' ground-truth labels, the eval step between
    * "k-means converged" (q186) and "use the cells for ANN/SemDeDup"
    * (q60/q146): purity says how label-homogeneous cells are, NMI
    * corrects purity's bias toward many small cells. Per-cell rows
    * carry the majority label and cell purity; the overall purity/NMI
    * ride every row (the k-row frame is the artifact). Determinism: all
    * counts are integers, every ln is of an INTEGER argument quantized
    * to micro-units separately, so N·MI and N·H are exact integer sums —
    * the single sqrt/division rounds once at the end. */
  def q291ClusterQuality(s: SparkSession, dir: String): DataFrame = {
    def lnM(c: String) = expr(s"CAST(round(ln($c) * 1000000) AS BIGINT)")
    // fail LOUDLY on a non-numeric label schema: a silent cast("long")
    // would turn every label into NULL (and the NULL group would vanish
    // through the contingency groupBy) while the oracle's CAST errors —
    // an asymmetric drift, not a diff (round-11 ADVICE)
    val labelType = Tables.embeddings(s, dir).schema("label").dataType
    require(labelType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"q291 needs a numeric embeddings label column, got $labelType")
    val cl = assignCells(vecs(s, dir), coarseCentroids(s, dir)).select(col("vec_id"), col("cell"))
      .join(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label")), Seq("vec_id"))
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n_cl"))
      .transform(Materialize.localCheckpoint(_)) // cells×labels — the bounded contingency table
    val nc = cl.groupBy(col("cell")).agg(sum(col("n_cl")).as("n_c"))
    val nl = cl.groupBy(col("label")).agg(sum(col("n_cl")).as("n_l"))
    val nT = cl.agg(sum(col("n_cl")).as("n"))
    val mi = cl.join(nc, Seq("cell")).join(nl, Seq("label"))
      .crossJoin(broadcast(nT))
      .agg(sum(col("n_cl") *
        (lnM("n") + lnM("n_cl") - lnM("n_c") - lnM("n_l"))).as("mi_n"))
    val hc = nc.crossJoin(broadcast(nT))
      .agg(sum(col("n_c") * (lnM("n") - lnM("n_c"))).as("hc_n"))
    val hl = nl.crossJoin(broadcast(nT))
      .agg(sum(col("n_l") * (lnM("n") - lnM("n_l"))).as("hl_n"))
    val perCell = cl
      .groupBy(col("cell"))
      .agg(sum(col("n_cl")).as("n_c"),
        max(struct(col("n_cl").as("n_cl"),
          (-col("label")).as("neg_label"))).as("mx"))
      .select(col("cell"), col("n_c"),
        (-col("mx.neg_label")).as("majority_label"),
        col("mx.n_cl").as("n_majority"),
        round(col("mx.n_cl") / col("n_c").cast("double"), 4).as("cell_purity"))
    perCell
      .crossJoin(broadcast(perCell.agg(sum(col("n_majority")).as("maj_tot"))))
      .crossJoin(broadcast(nT))
      .crossJoin(broadcast(mi)).crossJoin(broadcast(hc)).crossJoin(broadcast(hl))
      .select(col("cell"), col("n_c"), col("majority_label"),
        col("n_majority"), col("cell_purity"),
        round(col("maj_tot") / col("n").cast("double"), 4).as("purity"),
        round(col("mi_n") / sqrt(col("hc_n").cast("double")
          * col("hl_n").cast("double")), 6).as("nmi"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q291_cluster_quality" -> q291ClusterQuality _,
    "q279_triplet_mining"  -> q279TripletMining _,
    "q278_hybrid_rrf"      -> q278HybridRrf _,
    "q297_retrieval_eval"  -> q297RetrievalEval _,
    "q270_kcenter_coreset" -> q270KcenterCoreset _,
    "q193_ivfpq_search"    -> q193IvfpqSearch _,
    "q206_pq_train"        -> q206PqTrain _,
    "q214_truncation_audit" -> q214TruncationAudit _,
    "q310_matryoshka_recall" -> q310MatryoshkaRecall _,
    "q165_pq_assign"       -> q165PqAssign _,
    "q150_hard_negatives"  -> q150HardNegatives _,
    "q153_knn_consistency" -> q153KnnConsistency _,
    "q146_semantic_dedup"  -> q146SemanticDedup _,
    "q128_ann_recall"      -> q128AnnRecall _,
    "q127_embedding_quant" -> q127EmbeddingQuant _,
    "q37_cosine_topk"      -> q37CosineTopK _,
    "q38_lsh_buckets"      -> q38LshBuckets _,
    "q43_nearest_neighbor" -> q43NearestNeighbor _,
    "q60_ivf_ann"          -> q60IvfAnn _,
    "q68_kmeans_step"      -> q68KmeansStep _,
    "q186_kmeans_train"    -> q186KmeansTrain _,
    "q181_label_centroid_sim" -> q181LabelCentroidSim _,
    "q69_embedding_neardup" -> q69EmbeddingNearDup _,
    "q71_multiprobe_ann"   -> q71MultiprobeAnn _,
    "q317_bitext_mining"   -> q317BitextMining _,
    "q320_bitext_ivf"      -> q320BitextIvf _,
    "q336_bitext_auto"     -> q336BitextAuto _,
    "q337_quantizer_census" -> q337QuantizerCensus _,
    "q338_ivf_imbalance"   -> q338IvfImbalance _,
    "q339_multiprobe_screen" -> q339MultiprobeScreen _,
    "q340_ivfpq_multiprobe" -> q340IvfpqMultiprobe _,
    "q341_adc_recall"      -> q341AdcRecall _,
    "q342_ivfpq_residual"  -> q342IvfpqResidual _,
    "q343_residual_gain"   -> q343ResidualGain _,
    "q344_artifact_assign" -> q344ArtifactAssign _,
    "q345_artifact_adc"    -> q345ArtifactAdc _,
    "q346_pq_distortion"   -> q346PqDistortion _,
    "q347_sq8_recall"      -> q347Sq8Recall _,
    "q348_code_usage"      -> q348CodeUsage _,
    "q349_refresh_drift"   -> q349RefreshDrift _,
    "q350_knn_graph"       -> q350KnnGraph _,
    "q351_graph_search"    -> q351GraphSearch _,
    "q352_graph_recall"    -> q352GraphRecall _,
    "q328_bitext_ivf_recall" -> q328BitextIvfRecall _,
    "q332_bitext_multiprobe" -> q332BitextMultiprobe _,
    "q334_semantic_eval_proximity" -> q334SemanticEvalProximity _,
    "q335_proximity_screen_ivf" -> q335ProximityScreenIvf _
  )

  private def topKSql(nQueries: Int, k: Int, cols: String): String =
    s"""WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, range(1, 65) t(i)),
       nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
       d AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id, sum(q.x * e.x) AS dot
             FROM ex q JOIN ex e ON q.i = e.i AND q.vec_id < $nQueries AND e.vec_id <> q.vec_id
             GROUP BY 1, 2),
       c AS (SELECT d.q_id, d.vec_id, round(d.dot/(nq.n * ne.n), 6) AS cos
             FROM d JOIN nrm nq ON d.q_id = nq.vec_id JOIN nrm ne ON d.vec_id = ne.vec_id),
       r AS (SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
             FROM c)
       SELECT $cols FROM r WHERE rank <= $k"""

  /** Shared assignment CTE chain — the TRAINED quantizer's verbatim
    * DuckDB replay (mirrors [[trainCentroids]] + [[assignCells]]):
    * k = max(8, √N) (uncapped — the literal argmax serves k ≤ 64, the broadcast max-struct argmax past it, parity-pinned), md5-ordered seed, 2 Lloyd rounds with
    * 6dp-rounded means and empty-cell carry, then the final scoring
    * (`cc`) and argmax assignment (`assigned`) against the trained
    * centroid table `kc2`. The engine's exact rounded-fixpoint early
    * stop commutes with the unconditional 2 rounds here (a converged
    * round is a no-op — the q186/PQ-train argument). */
  private val assignSql = {
    // one Lloyd round against centroid table kc{t-1} → assignment ka{t}
    // and rounded-mean centroids kc{t} (empty cells carry)
    def lloyd(t: Int): String = {
      val prev = s"kc${t - 1}"
      s"""kd$t AS (SELECT v.vec_id, c.cent_id, sum(v.x * c.m) AS dot
               FROM ex v JOIN $prev c ON v.i = c.i GROUP BY 1, 2),
         kn$t AS (SELECT cent_id, sqrt(sum(m*m)) AS n FROM $prev GROUP BY 1),
         kq$t AS (SELECT kd$t.vec_id, kd$t.cent_id,
                    round(kd$t.dot/(nv.n * kn$t.n), 6) AS ccos
                  FROM kd$t JOIN nrm nv ON kd$t.vec_id = nv.vec_id
                            JOIN kn$t ON kd$t.cent_id = kn$t.cent_id),
         ka$t AS (SELECT vec_id, cent_id AS cell FROM (
                    SELECT vec_id, cent_id, row_number() OVER (
                      PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn
                    FROM kq$t) WHERE rn = 1),
         km$t AS (SELECT a.cell AS cent_id, e.i,
                    round(sum(e.x)/count(*), 6) AS m
                  FROM ka$t a JOIN ex e ON a.vec_id = e.vec_id GROUP BY 1, 2),
         kc$t AS MATERIALIZED (SELECT * FROM km$t
                  UNION ALL
                  SELECT p.cent_id, p.i, p.m FROM $prev p
                  WHERE p.cent_id NOT IN (SELECT DISTINCT cent_id FROM km$t))"""
    }
    s"""ex AS MATERIALIZED (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, range(1, 65) t(i)),
       nrm AS MATERIALIZED (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
       kk AS (SELECT CAST(greatest(8, round(sqrt(count(*))))
                     AS BIGINT) AS k FROM embeddings),
       ksd AS (SELECT vec_id, row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR))) AS srn
               FROM embeddings),
       kc0 AS (SELECT e.vec_id AS cent_id, e.i, e.x AS m
               FROM ex e JOIN ksd ON ksd.vec_id = e.vec_id, kk
               WHERE ksd.srn <= kk.k),
       ${lloyd(1)},
       ${lloyd(2)},
       cd AS (SELECT v.vec_id, c.cent_id, sum(v.x * c.m) AS dot
              FROM ex v JOIN kc2 c ON v.i = c.i GROUP BY 1, 2),
       cn AS (SELECT cent_id, sqrt(sum(m*m)) AS n FROM kc2 GROUP BY 1),
       cc AS MATERIALIZED (SELECT cd.vec_id, cd.cent_id,
                     round(cd.dot/(nv.n * cn.n), 6) AS ccos
              FROM cd JOIN nrm nv ON cd.vec_id = nv.vec_id
                      JOIN cn ON cd.cent_id = cn.cent_id),
       assigned AS MATERIALIZED (SELECT vec_id, cent_id AS cell FROM (
                      SELECT vec_id, cent_id,
                             row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, cent_id) AS rn
                      FROM cc) WHERE rn = 1)"""
  }

  /** The q349 frozen-quantizer chain: the assignSql trainer replayed
    * over the PRE-GROWTH corpus (vec_id % 10 <> 9) with o-prefixed CTE
    * names, then the FULL corpus assigned against the frozen centroids
    * (`oassigned`). Reads `ex`/`nrm` from the main chain. */
  private val frozenAssignSql = {
    def lloyd(t: Int): String = {
      val prev = s"okc${t - 1}"
      s"""okd$t AS (SELECT v.vec_id, c.cent_id, sum(v.x * c.m) AS dot
               FROM otex v JOIN $prev c ON v.i = c.i GROUP BY 1, 2),
         okn$t AS (SELECT cent_id, sqrt(sum(m*m)) AS n FROM $prev GROUP BY 1),
         okq$t AS (SELECT okd$t.vec_id, okd$t.cent_id,
                     round(okd$t.dot/(nv.n * okn$t.n), 6) AS ccos
                   FROM okd$t JOIN otn nv ON okd$t.vec_id = nv.vec_id
                             JOIN okn$t ON okd$t.cent_id = okn$t.cent_id),
         oka$t AS (SELECT vec_id, cent_id AS cell FROM (
                     SELECT vec_id, cent_id, row_number() OVER (
                       PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn
                     FROM okq$t) WHERE rn = 1),
         okm$t AS (SELECT a.cell AS cent_id, e.i,
                     round(sum(e.x)/count(*), 6) AS m
                   FROM oka$t a JOIN otex e ON a.vec_id = e.vec_id
                   GROUP BY 1, 2),
         okc$t AS MATERIALIZED (SELECT * FROM okm$t
                  UNION ALL
                  SELECT p.cent_id, p.i, p.m FROM $prev p
                  WHERE p.cent_id NOT IN
                    (SELECT DISTINCT cent_id FROM okm$t))"""
    }
    s"""otex AS MATERIALIZED (SELECT * FROM ex WHERE vec_id % 10 <> 9),
       otn AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM otex GROUP BY 1),
       okk AS (SELECT CAST(greatest(8, round(sqrt(count(*))))
                      AS BIGINT) AS k
               FROM embeddings WHERE vec_id % 10 <> 9),
       oksd AS (SELECT vec_id, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR))) AS srn
                FROM embeddings WHERE vec_id % 10 <> 9),
       okc0 AS (SELECT e.vec_id AS cent_id, e.i, e.x AS m
                FROM otex e JOIN oksd ON oksd.vec_id = e.vec_id, okk
                WHERE oksd.srn <= okk.k),
       ${lloyd(1)},
       ${lloyd(2)},
       ocd AS (SELECT v.vec_id, c.cent_id, sum(v.x * c.m) AS dot
               FROM ex v JOIN okc2 c ON v.i = c.i GROUP BY 1, 2),
       ocn AS (SELECT cent_id, sqrt(sum(m*m)) AS n FROM okc2 GROUP BY 1),
       occ AS (SELECT ocd.vec_id, ocd.cent_id,
                 round(ocd.dot/(nv.n * ocn.n), 6) AS ccos
               FROM ocd JOIN nrm nv ON ocd.vec_id = nv.vec_id
                       JOIN ocn ON ocd.cent_id = ocn.cent_id),
       oassigned AS (SELECT vec_id, cent_id AS cell FROM (
                       SELECT vec_id, cent_id,
                              row_number() OVER (PARTITION BY vec_id
                                ORDER BY ccos DESC, cent_id) AS rn
                       FROM occ) WHERE rn = 1)"""
  }

  /** PQ codebook TRAINING replay (trainPqCodebooks' 2-round Lloyd
    * trajectory, chained CTEs): `psubs` (per-vector subvectors) →
    * `pc0` (first-4 seed) → assign/means per round → `pc2` (trained
    * (m, code, cw) codebooks). Rounding lockstep: dist2 round 6 over the
    * ORDERED 16-term list sum, means round 6 before reuse, empty
    * clusters carry the previous codeword. */
  /** PQ codebook-training CTE chain GENERATOR: `peSql` defines the
    * base vector CTE (named ${pfx}pe, columns vec_id + v:list<double>)
    * and every CTE name carries the prefix so two chains (raw +
    * residual) can coexist in one oracle (q343). The default chain
    * (empty prefix, raw embeddings) keeps the round-14 names verbatim
    * — q206/q193/q340/q341 oracles are byte-identical. */
  private def pqTrainSqlOver(peSql: String, pfx: String): String = {
    def round(t: Int): String = {
      val prev = s"${pfx}pc${t - 1}"
      s"""${pfx}pd$t AS (SELECT s.vec_id, s.m, c.code,
                round(list_sum(list_transform(range(1, 17),
                  i -> (s.sub[i] - c.cw[i]) * (s.sub[i] - c.cw[i]))), 6)
                  AS dist2
              FROM ${pfx}psubs s JOIN $prev c ON c.m = s.m),
         ${pfx}pa$t AS (SELECT vec_id, m, code FROM (
                  SELECT vec_id, m, code, row_number() OVER (
                    PARTITION BY vec_id, m ORDER BY dist2 ASC, code ASC)
                    AS rn FROM ${pfx}pd$t) WHERE rn = 1),
         ${pfx}pm$t AS (SELECT a.m, a.code, u.i,
                  round(sum(s.sub[u.i])/count(*), 6) AS w
                FROM ${pfx}pa$t a JOIN ${pfx}psubs s
                  ON s.vec_id = a.vec_id AND s.m = a.m, range(1, 17) u(i)
                GROUP BY 1, 2, 3),
         ${pfx}pr$t AS (SELECT m, code, list(w ORDER BY i) AS cw
                FROM ${pfx}pm$t GROUP BY 1, 2),
         ${pfx}pc$t AS MATERIALIZED (SELECT * FROM ${pfx}pr$t
                UNION ALL
                SELECT p.m, p.code, p.cw FROM $prev p
                WHERE NOT EXISTS (SELECT 1 FROM ${pfx}pr$t r
                  WHERE r.m = p.m AND r.code = p.code))"""
    }
    s"""${pfx}pe AS MATERIALIZED ($peSql),
       ${pfx}psubs AS MATERIALIZED (SELECT vec_id, m, v[m*16+1 : m*16+16] AS sub
                 FROM ${pfx}pe, range(0, 4) t(m)),
       ${pfx}pc0 AS (SELECT m, vec_id AS code, sub AS cw
               FROM ${pfx}psubs WHERE vec_id < 4),
       ${round(1)},
       ${round(2)}"""
  }

  private val rawPeSql =
    """SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings"""

  /** Residual base: v − trained-cell centroid per dimension — the true
    * IVFADC encoding (Jégou et al. 2011 §III); reads `assigned` + the
    * trained centroid table `kc2` from the shared assignSql chain. */
  private val residualPeSql =
    """SELECT e.vec_id, list(e.x - c.m ORDER BY e.i) AS v
            FROM ex e JOIN assigned a ON a.vec_id = e.vec_id
            JOIN kc2 c ON c.cent_id = a.cell AND c.i = e.i
            GROUP BY e.vec_id"""

  private val pqTrainSql = pqTrainSqlOver(rawPeSql, "")

  /** ADC single-probe candidate CTE GENERATOR (prefix discipline as
    * [[pqTrainSqlOver]]): PQ-encode the corpus against the trained
    * ${pfx}pc2 codebooks (`${pfx}codes`), per-query distance tables
    * (`${pfx}qdt`), then the single-probe candidate frame
    * (`${pfx}cand`). Cell assignment/probes always come from the ONE
    * shared trained quantizer (`assigned`/`cc`), whatever the encoding
    * base. */
  private def adcCandSqlOver(pfx: String): String =
    s"""${pfx}subs AS (SELECT vec_id, m, sub FROM ${pfx}psubs),
         ${pfx}cbs AS (SELECT m AS cm, code, cw FROM ${pfx}pc2),
         ${pfx}sc AS MATERIALIZED (SELECT s.vec_id, s.m, c.code,
                  round(list_sum(list_transform(range(1, 17),
                    i -> (s.sub[i] - c.cw[i]) * (s.sub[i] - c.cw[i]))), 6)
                    AS dist2
                FROM ${pfx}subs s JOIN ${pfx}cbs c ON c.cm = s.m),
         ${pfx}codes AS MATERIALIZED (SELECT vec_id, m, code FROM (
                     SELECT vec_id, m, code, row_number() OVER (
                       PARTITION BY vec_id, m ORDER BY dist2 ASC, code ASC)
                       AS rn
                     FROM ${pfx}sc) WHERE rn = 1),
         ${pfx}qdt AS (SELECT vec_id AS q_id, m, code, dist2 AS dt
                 FROM ${pfx}sc
                 WHERE vec_id BETWEEN 100 AND 105),
         ${pfx}cand AS (SELECT aq.vec_id AS q_id, av.cell, cd.vec_id,
                    round(sum(q.dt), 6) AS adist
                  FROM ${pfx}codes cd
                  JOIN assigned av ON av.vec_id = cd.vec_id
                  JOIN assigned aq ON aq.cell = av.cell
                    AND aq.vec_id BETWEEN 100 AND 105
                  JOIN ${pfx}qdt q ON q.q_id = aq.vec_id AND q.m = cd.m
                    AND q.code = cd.code
                  WHERE cd.vec_id <> aq.vec_id
                  GROUP BY 1, 2, 3)"""

  /** ADC search CTE block shared by the q193/q340/q341 oracles: the
    * raw-encoding single-probe frame (`cand`) plus the two-probe one
    * (`cand2` — probes = cc rn ≤ 2, the rankedCells replay). ONE
    * definition so the recall eval can never drift from the search
    * queries it scores (the rrfCtes convention). */
  private val adcCtesSql =
    s"""${adcCandSqlOver("")},
         qprobes AS (SELECT vec_id AS q_id, cent_id AS cell FROM (
                       SELECT vec_id, cent_id, row_number() OVER (
                         PARTITION BY vec_id
                         ORDER BY ccos DESC, cent_id) AS rn
                       FROM cc WHERE vec_id BETWEEN 100 AND 105)
                     WHERE rn <= 2),
         cand2 AS (SELECT p.q_id, av.cell, cd.vec_id,
                     round(sum(q.dt), 6) AS adist
                   FROM codes cd
                   JOIN assigned av ON av.vec_id = cd.vec_id
                   JOIN qprobes p ON p.cell = av.cell
                   JOIN qdt q ON q.q_id = p.q_id AND q.m = cd.m
                     AND q.code = cd.code
                   WHERE cd.vec_id <> p.q_id
                   GROUP BY 1, 2, 3)"""

  /** The q350 kNN-graph replay (reads assigned/ex/nrm from the shared
    * assignSql chain): in-cell candidate pairs → micro-cosine → top-3
    * out-edges per vector as `g`. Shared by the q350 build oracle and
    * the q351 beam-search oracle. */
  private val graphCtesSql =
    """gpc AS (SELECT sa.vec_id AS src_id, sb.vec_id AS tgt_id
               FROM assigned sa JOIN assigned sb
                 ON sb.cell = sa.cell AND sb.vec_id <> sa.vec_id),
       gpd AS (SELECT c.src_id, c.tgt_id, sum(xa.x * xb.x) AS dot
               FROM gpc c JOIN ex xa ON xa.vec_id = c.src_id
                          JOIN ex xb ON xb.vec_id = c.tgt_id
                            AND xb.i = xa.i
               GROUP BY 1, 2),
       gcm AS (SELECT src_id, tgt_id,
                 CAST(round(round(dot/(na.n * nb.n), 6) * 1e6) AS BIGINT)
                   AS cm
               FROM gpd JOIN nrm na ON src_id = na.vec_id
                        JOIN nrm nb ON tgt_id = nb.vec_id),
       g AS MATERIALIZED (SELECT src_id, tgt_id, rank, cm FROM (
              SELECT src_id, tgt_id, cm, row_number() OVER (
                PARTITION BY src_id ORDER BY cm DESC, tgt_id) AS rank
              FROM gcm) WHERE rank <= 3)"""

  /** The q351 cluster-routed beam replay (reads assigned/ex/nrm from
    * assignSql and `g` from [[graphCtesSql]]): query cells (`qs`),
    * the query×corpus micro-cosine table (`qc`), the per-query cell
    * entry point (`ent`), and beams b0..b3 (width 4, 3 hops). Shared
    * by the q351 search oracle and the q352 recall oracle. */
  private val beamCtesSql = {
    def hop(t: Int): String =
      s"""h$t AS (SELECT DISTINCT q_id, node FROM (
               SELECT q_id, node FROM b${t - 1}
               UNION ALL
               SELECT b.q_id, g.tgt_id AS node
               FROM b${t - 1} b JOIN g ON g.src_id = b.node)),
         b$t AS (SELECT q_id, node, cm FROM (
               SELECT s.q_id, s.node, s.cm, row_number() OVER (
                 PARTITION BY s.q_id ORDER BY s.cm DESC, s.node) AS rn
               FROM h$t c JOIN qc s
                 ON s.q_id = c.q_id AND s.node = c.node)
             WHERE rn <= 4)"""
    s"""qs AS (SELECT vec_id AS q_id, cell FROM assigned
              WHERE vec_id BETWEEN 100 AND 105),
       qd AS (SELECT q.vec_id AS q_id, e.vec_id AS node,
                sum(q.x * e.x) AS dot
              FROM ex q JOIN ex e ON e.i = q.i
                AND q.vec_id BETWEEN 100 AND 105
                AND e.vec_id <> q.vec_id
              GROUP BY 1, 2),
       qc AS MATERIALIZED (SELECT q_id, node,
              CAST(round(round(dot/(na.n * nb.n), 6) * 1e6) AS BIGINT)
                AS cm
            FROM qd JOIN nrm na ON q_id = na.vec_id
                    JOIN nrm nb ON node = nb.vec_id),
       ent AS (SELECT q_id, node FROM (
                 SELECT qs.q_id, a.vec_id AS node, row_number() OVER (
                   PARTITION BY qs.q_id
                   ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id)
                   AS rn
                 FROM qs JOIN assigned a
                   ON a.cell = qs.cell AND a.vec_id <> qs.q_id)
               WHERE rn = 1),
       b0 AS (SELECT q_id, node, cm FROM (
                SELECT s.q_id, s.node, s.cm, row_number() OVER (
                  PARTITION BY s.q_id ORDER BY s.cm DESC, s.node) AS rn
                FROM ent c
                JOIN qc s ON s.q_id = c.q_id AND s.node = c.node)
              WHERE rn <= 4),
       ${hop(1)},
       ${hop(2)},
       ${hop(3)}"""
  }

  /** The single-probe IVF-PQ search oracle — shared verbatim by q193
    * (in-session trained index) and q345 (the same index through the
    * parquet save/load round trip). */
  private val ivfpqSearchOracle =
    s"""WITH $assignSql,
         $pqTrainSql,
         $adcCtesSql
         SELECT q_id, cell, vec_id, rank, adist FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY adist ASC, vec_id ASC) AS rank
           FROM cand) WHERE rank <= 3"""

  /** q278's full hybrid-retrieval chain as a CTE block ending in
    * `rrf_ranked(q_id, doc_id, rank, rrf, n_arms)` — shared by the q278
    * oracle and the retrieval-eval oracle (q297) so the evaluated
    * ranking can never drift from the retrieval query (the nbScoreCtes
    * convention). */
  private val rrfCtesSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t),
         qt AS (SELECT DISTINCT q_id, term FROM (
                  SELECT doc_id AS q_id, unnest(toks) AS term
                  FROM t WHERE doc_id < 3)),
         tok AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                        unnest(toks) AS term FROM t),
         tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE term IN (SELECT term FROM qt)
                GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                 FROM tf GROUP BY 1),
         sc AS (SELECT q.q_id, f.doc_id,
                  ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
                    f.tf * 2.2 /
                    (f.tf + 1.2 * (0.25 + 0.75 * f.dl / s.avgdl)) AS contrib
                FROM tf f JOIN dft d USING (term) JOIN qt q USING (term)
                     CROSS JOIN st s
                WHERE f.doc_id <> q.q_id),
         lexs AS (SELECT q_id, doc_id,
                    CAST(sum(CAST(round(contrib * 1000000) AS BIGINT))
                         AS BIGINT) AS bm25_micro
                  FROM sc GROUP BY 1, 2),
         lex AS (SELECT q_id, doc_id, r FROM (
                   SELECT q_id, doc_id, row_number() OVER (
                     PARTITION BY q_id ORDER BY bm25_micro DESC, doc_id) AS r
                   FROM lexs) WHERE r <= 20),
         ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
                FROM embeddings, range(1, 65) ti(i)),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         dd AS (SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
                  sum(q.x * e.x) AS dot
                FROM ex q JOIN ex e
                  ON q.i = e.i AND q.vec_id < 3 AND e.vec_id <> q.vec_id
                GROUP BY 1, 2),
         cc AS (SELECT dd.q_id, dd.doc_id,
                  round(dd.dot / (nq.n * ne.n), 6) AS cos
                FROM dd JOIN nrm nq ON dd.q_id = nq.vec_id
                        JOIN nrm ne ON dd.doc_id = ne.vec_id),
         sem AS (SELECT q_id, doc_id, r FROM (
                   SELECT q_id, doc_id, row_number() OVER (
                     PARTITION BY q_id ORDER BY cos DESC, doc_id) AS r
                   FROM cc) WHERE r <= 20),
         u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
         f2 AS (SELECT q_id, doc_id,
                  round(sum(1.0 / (60.0 + r)), 6) AS rrf,
                  CAST(count(*) AS BIGINT) AS n_arms
                FROM u GROUP BY 1, 2),
         rrf_ranked AS (SELECT q_id, doc_id, rank, rrf, n_arms FROM (
           SELECT q_id, doc_id, CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
             rrf, n_arms
           FROM f2) WHERE rank <= 10)"""

  val oracles: Map[String, String] = Map(
    "q291_cluster_quality" ->
      s"""WITH $assignSql,
         cl AS (SELECT a.cell, CAST(e.label AS BIGINT) AS label,
                  CAST(count(*) AS BIGINT) AS n_cl
                FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
                GROUP BY 1, 2),
         nc AS (SELECT cell, CAST(sum(n_cl) AS BIGINT) AS n_c
                FROM cl GROUP BY 1),
         nl AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l
                FROM cl GROUP BY 1),
         nt AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cl),
         mi AS (SELECT CAST(sum(n_cl * (
                    CAST(round(ln(n) * 1000000) AS BIGINT)
                  + CAST(round(ln(n_cl) * 1000000) AS BIGINT)
                  - CAST(round(ln(n_c) * 1000000) AS BIGINT)
                  - CAST(round(ln(n_l) * 1000000) AS BIGINT)))
                  AS BIGINT) AS mi_n
                FROM cl JOIN nc USING (cell) JOIN nl USING (label)
                     CROSS JOIN nt),
         hc AS (SELECT CAST(sum(n_c * (
                    CAST(round(ln(n) * 1000000) AS BIGINT)
                  - CAST(round(ln(n_c) * 1000000) AS BIGINT)))
                  AS BIGINT) AS hc_n
                FROM nc CROSS JOIN nt),
         hl AS (SELECT CAST(sum(n_l * (
                    CAST(round(ln(n) * 1000000) AS BIGINT)
                  - CAST(round(ln(n_l) * 1000000) AS BIGINT)))
                  AS BIGINT) AS hl_n
                FROM nl CROSS JOIN nt),
         pc AS (SELECT cell, CAST(sum(n_cl) AS BIGINT) AS n_c,
                  CAST(-(max(struct_pack(a := n_cl, b := -label)).b)
                       AS BIGINT) AS majority_label,
                  CAST(max(struct_pack(a := n_cl, b := -label)).a
                       AS BIGINT) AS n_majority
                FROM cl GROUP BY 1),
         mj AS (SELECT CAST(sum(n_majority) AS BIGINT) AS maj_tot FROM pc)
         SELECT pc.cell, pc.n_c, majority_label, n_majority,
                round(n_majority / CAST(pc.n_c AS DOUBLE), 4) AS cell_purity,
                round(maj_tot / CAST(n AS DOUBLE), 4) AS purity,
                round(mi_n / sqrt(CAST(hc_n AS DOUBLE) * CAST(hl_n AS DOUBLE)),
                      6) AS nmi
         FROM pc CROSS JOIN mj CROSS JOIN nt CROSS JOIN mi
              CROSS JOIN hc CROSS JOIN hl""",
    "q279_triplet_mining" ->
      s"""WITH RECURSIVE ${graft.operators.TextOps.minhashCtesSql},
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         pos AS (SELECT doc_a AS anchor_id, CAST(min(doc_b) AS BIGINT)
                   AS pos_id
                 FROM pairs GROUP BY 1),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, m) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m),
         lab AS (SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id
                 FROM reach GROUP BY node),
         $assignSql,
         an AS (SELECT p.anchor_id, p.pos_id, la.canonical_id AS ac, aa.cell
                FROM pos p JOIN lab la ON la.doc_id = p.anchor_id
                     JOIN assigned aa ON aa.vec_id = p.anchor_id),
         cnd AS (SELECT a2.vec_id, lc.canonical_id AS ccl, a2.cell
                 FROM assigned a2 JOIN lab lc ON lc.doc_id = a2.vec_id),
         dd AS (SELECT a.anchor_id, c.vec_id, sum(qa.x * qc.x) AS dot
                FROM an a JOIN cnd c ON c.cell = a.cell AND c.ccl <> a.ac
                     JOIN ex qa ON qa.vec_id = a.anchor_id
                     JOIN ex qc ON qc.vec_id = c.vec_id AND qc.i = qa.i
                GROUP BY 1, 2),
         cs AS (SELECT dd.anchor_id, dd.vec_id,
                  round(dd.dot / (na.n * nc.n), 6) AS cos
                FROM dd JOIN nrm na ON na.vec_id = dd.anchor_id
                        JOIN nrm nc ON nc.vec_id = dd.vec_id),
         r AS (SELECT anchor_id, vec_id, cos, row_number() OVER (
                 PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rn
               FROM cs)
         SELECT r.anchor_id, an.pos_id, r.vec_id AS neg_id, r.cos AS neg_cos
         FROM r JOIN an ON an.anchor_id = r.anchor_id WHERE rn = 1""",
    "q278_hybrid_rrf" ->
      s"""WITH $rrfCtesSql
         SELECT q_id, doc_id, rank, rrf, n_arms FROM rrf_ranked""",
    "q297_retrieval_eval" ->
      s"""WITH $rrfCtesSql,
         lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                 FROM embeddings),
         lc AS (SELECT label, count(*) AS n_lab FROM lab GROUP BY 1),
         j AS (SELECT r.q_id, r.rank,
                 CASE WHEN dl.label = ql.label THEN 1 ELSE 0 END AS rel,
                 CAST(round(1000000.0 / log2(CAST(r.rank AS DOUBLE) + 1))
                      AS BIGINT) AS w,
                 lcq.n_lab
               FROM rrf_ranked r
               JOIN lab ql ON ql.vec_id = r.q_id
               JOIN lab dl ON dl.vec_id = r.doc_id
               JOIN lc lcq ON lcq.label = ql.label),
         pq AS (SELECT q_id, any_value(n_lab) AS n_lab,
                  CAST(sum(rel) AS BIGINT) AS n_rel,
                  CAST(min(CASE WHEN rel = 1 THEN rank END) AS BIGINT)
                    AS first_rel_rank,
                  CAST(sum(CASE WHEN rel = 1 THEN w ELSE 0 END) AS BIGINT)
                    AS dcg_micro
                FROM j GROUP BY 1),
         iq AS (SELECT q_id, n_rel, first_rel_rank, dcg_micro,
                  least(10, n_lab - 1) AS m FROM pq),
         iq2 AS (SELECT *,
                  CAST(COALESCE(list_sum(list_transform(range(1, m + 1),
                    i -> CAST(round(1000000.0 / log2(CAST(i AS DOUBLE) + 1))
                         AS BIGINT))), 0) AS BIGINT) AS idcg_micro
                 FROM iq)
         SELECT q_id, n_rel, first_rel_rank,
                CASE WHEN first_rel_rank IS NOT NULL
                     THEN CAST(round(1000000.0 / first_rel_rank) AS BIGINT)
                END AS rr_micro,
                dcg_micro, idcg_micro,
                round(dcg_micro / nullif(CAST(idcg_micro AS DOUBLE), 0.0), 6)
                  AS ndcg
         FROM iq2""",
    "q270_kcenter_coreset" -> kcenterOracleSql,
    "q193_ivfpq_search" -> ivfpqSearchOracle,
    // the artifact queries re-run the SAME trained trajectory through a
    // parquet save/load — value-identical by the round-trip contract, so
    // they share the trained-replay oracles verbatim
    "q344_artifact_assign" ->
      s"""WITH $assignSql
         SELECT vec_id, cell FROM assigned""",
    "q345_artifact_adc" -> ivfpqSearchOracle,
    // seed distortion = round-1 distances (pd1 is scored against the
    // pc0 seed codebook); trained distortion = the ADC chain's sc/rsc
    // (scored against pc2). Micro-integer min/sum, one final division.
    "q346_pq_distortion" ->
      s"""WITH $assignSql,
         $pqTrainSql,
         ${adcCandSqlOver("")},
         ${pqTrainSqlOver(residualPeSql, "r")},
         ${adcCandSqlOver("r")},
         sr AS (SELECT vec_id, m,
                  min(CAST(round(dist2 * 1e6) AS BIGINT)) AS md
                FROM pd1 GROUP BY 1, 2),
         tr AS (SELECT vec_id, m,
                  min(CAST(round(dist2 * 1e6) AS BIGINT)) AS md
                FROM sc GROUP BY 1, 2),
         rsr AS (SELECT vec_id, m,
                   min(CAST(round(dist2 * 1e6) AS BIGINT)) AS md
                 FROM rpd1 GROUP BY 1, 2),
         rtr AS (SELECT vec_id, m,
                   min(CAST(round(dist2 * 1e6) AS BIGINT)) AS md
                 FROM rsc GROUP BY 1, 2)
         SELECT 'raw' AS arm, 'seed' AS stage, CAST(m AS BIGINT) AS m,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(md) AS DOUBLE)
                      / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS avg_dist2
         FROM sr GROUP BY 3
         UNION ALL
         SELECT 'raw', 'trained', CAST(m AS BIGINT),
                CAST(count(*) AS BIGINT),
                round(CAST(sum(md) AS DOUBLE)
                      / (CAST(count(*) AS DOUBLE) * 1e6), 6)
         FROM tr GROUP BY 3
         UNION ALL
         SELECT 'residual', 'seed', CAST(m AS BIGINT),
                CAST(count(*) AS BIGINT),
                round(CAST(sum(md) AS DOUBLE)
                      / (CAST(count(*) AS DOUBLE) * 1e6), 6)
         FROM rsr GROUP BY 3
         UNION ALL
         SELECT 'residual', 'trained', CAST(m AS BIGINT),
                CAST(count(*) AS BIGINT),
                round(CAST(sum(md) AS DOUBLE)
                      / (CAST(count(*) AS DOUBLE) * 1e6), 6)
         FROM rtr GROUP BY 3""",
    "q347_sq8_recall" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
         qz AS (SELECT e.vec_id, e.i,
                  CASE WHEN mx = mn THEN 0
                       ELSE round((e.x - mn) * 255 / (mx - mn)) END AS q,
                  mn, mx
                FROM ex e JOIN mm USING (i)),
         rec AS MATERIALIZED (SELECT vec_id, i,
                  q * (mx - mn) / 255 + mn AS xr FROM qz),
         nv AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         nr AS (SELECT vec_id, sqrt(sum(xr*xr)) AS n FROM rec GROUP BY 1),
         ed AS (SELECT q.vec_id AS q_id, e.vec_id, sum(q.x * e.x) AS dot
                FROM ex q JOIN ex e ON q.i = e.i
                  AND q.vec_id BETWEEN 100 AND 105
                  AND e.vec_id <> q.vec_id
                GROUP BY 1, 2),
         et AS (SELECT q_id, vec_id FROM (
                  SELECT ed.q_id, ed.vec_id, row_number() OVER (
                    PARTITION BY ed.q_id
                    ORDER BY round(ed.dot/(a.n * b.n), 4) DESC, ed.vec_id)
                    AS rank
                  FROM ed JOIN nv a ON ed.q_id = a.vec_id
                          JOIN nv b ON ed.vec_id = b.vec_id)
                WHERE rank <= 3),
         rd AS (SELECT q.vec_id AS q_id, e.vec_id, sum(q.xr * e.xr) AS dot
                FROM rec q JOIN rec e ON q.i = e.i
                  AND q.vec_id BETWEEN 100 AND 105
                  AND e.vec_id <> q.vec_id
                GROUP BY 1, 2),
         rt AS (SELECT q_id, vec_id FROM (
                  SELECT rd.q_id, rd.vec_id, row_number() OVER (
                    PARTITION BY rd.q_id
                    ORDER BY round(rd.dot/(a.n * b.n), 4) DESC, rd.vec_id)
                    AS rank
                  FROM rd JOIN nr a ON rd.q_id = a.vec_id
                          JOIN nr b ON rd.vec_id = b.vec_id)
                WHERE rank <= 3),
         err AS (SELECT e.vec_id AS q_id,
                   CAST(sum(CAST(round((e.x - r.xr) * (e.x - r.xr) * 1e12)
                                 AS BIGINT)) AS BIGINT) AS mse_micro
                 FROM ex e JOIN rec r ON r.vec_id = e.vec_id AND r.i = e.i
                 WHERE e.vec_id BETWEEN 100 AND 105 GROUP BY 1),
         agg AS (SELECT et.q_id, CAST(count(*) AS BIGINT) AS k,
                   CAST(count(rt.vec_id) AS BIGINT) AS n_hit,
                   round(count(rt.vec_id) / CAST(count(*) AS DOUBLE), 4)
                     AS recall
                 FROM et LEFT JOIN rt
                   ON rt.q_id = et.q_id AND rt.vec_id = et.vec_id
                 GROUP BY 1)
         SELECT agg.q_id, k, n_hit, recall, err.mse_micro
         FROM agg JOIN err ON err.q_id = agg.q_id""",
    "q348_code_usage" ->
      s"""WITH $assignSql,
         $pqTrainSql,
         ${adcCandSqlOver("")},
         ${pqTrainSqlOver(residualPeSql, "r")},
         ${adcCandSqlOver("r")},
         ru AS (SELECT m, code, CAST(count(*) AS BIGINT) AS n_used
                FROM codes GROUP BY 1, 2),
         rru AS (SELECT m, code, CAST(count(*) AS BIGINT) AS n_used
                 FROM rcodes GROUP BY 1, 2)
         SELECT 'raw' AS flavor, CAST(c.m AS BIGINT) AS m, c.code,
                COALESCE(ru.n_used, CAST(0 AS BIGINT)) AS n_used
         FROM pc2 c LEFT JOIN ru ON ru.m = c.m AND ru.code = c.code
         UNION ALL
         SELECT 'residual', CAST(c.m AS BIGINT), c.code,
                COALESCE(rru.n_used, CAST(0 AS BIGINT))
         FROM rpc2 c LEFT JOIN rru ON rru.m = c.m AND rru.code = c.code""",
    "q349_refresh_drift" ->
      s"""WITH $assignSql,
         $frozenAssignSql
         SELECT a.vec_id, o.cell AS cell_frozen, a.cell AS cell_fresh,
                CAST(CASE WHEN o.cell <> a.cell THEN 1 ELSE 0 END AS BIGINT)
                  AS moved
         FROM oassigned o JOIN assigned a ON a.vec_id = o.vec_id""",
    "q350_knn_graph" ->
      s"""WITH $assignSql,
         $graphCtesSql
         SELECT src_id, tgt_id, CAST(rank AS BIGINT) AS rank,
                round(CAST(cm AS DOUBLE) / 1e6, 6) AS cos
         FROM g""",
    "q351_graph_search" ->
      s"""WITH $assignSql,
         $graphCtesSql,
         $beamCtesSql
         SELECT q_id, node AS vec_id, CAST(rank AS BIGINT) AS rank,
                round(CAST(cm AS DOUBLE) / 1e6, 6) AS cos
         FROM (SELECT q_id, node, cm, row_number() OVER (
                 PARTITION BY q_id ORDER BY cm DESC, node) AS rank
               FROM b3) WHERE rank <= 3""",
    "q352_graph_recall" ->
      s"""WITH $assignSql,
         $graphCtesSql,
         $beamCtesSql,
         xcand AS (SELECT q.q_id, a.vec_id
                   FROM qs q JOIN assigned a
                     ON q.cell = a.cell AND a.vec_id <> q.q_id),
         xpc AS (SELECT q_id, vec_id FROM (
                   SELECT c.q_id, c.vec_id, row_number() OVER (
                     PARTITION BY c.q_id
                     ORDER BY qc.cm DESC, c.vec_id) AS rank
                   FROM xcand c JOIN qc
                     ON qc.q_id = c.q_id AND qc.node = c.vec_id)
                 WHERE rank <= 3),
         bt AS (SELECT q_id, node AS vec_id FROM (
                  SELECT q_id, node, row_number() OVER (
                    PARTITION BY q_id ORDER BY cm DESC, node) AS rank
                  FROM b3) WHERE rank <= 3)
         SELECT x.q_id, CAST(count(*) AS BIGINT) AS k,
                CAST(count(bt.vec_id) AS BIGINT) AS n_hit,
                round(count(bt.vec_id) / CAST(count(*) AS DOUBLE), 4)
                  AS recall
         FROM xpc x LEFT JOIN bt
           ON bt.q_id = x.q_id AND bt.vec_id = x.vec_id
         GROUP BY 1""",
    "q342_ivfpq_residual" ->
      s"""WITH $assignSql,
         ${pqTrainSqlOver(residualPeSql, "r")},
         ${adcCandSqlOver("r")}
         SELECT q_id, cell, vec_id, rank, adist FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY adist ASC, vec_id ASC) AS rank
           FROM rcand) WHERE rank <= 3""",
    "q343_residual_gain" ->
      s"""WITH $assignSql,
         $pqTrainSql,
         ${adcCandSqlOver("")},
         ${pqTrainSqlOver(residualPeSql, "r")},
         ${adcCandSqlOver("r")},
         a1 AS (SELECT q_id, vec_id FROM (
                  SELECT q_id, vec_id, row_number() OVER (
                    PARTITION BY q_id ORDER BY adist ASC, vec_id ASC)
                    AS rank
                  FROM cand) WHERE rank <= 3),
         ar AS (SELECT q_id, vec_id FROM (
                  SELECT q_id, vec_id, row_number() OVER (
                    PARTITION BY q_id ORDER BY adist ASC, vec_id ASC)
                    AS rank
                  FROM rcand) WHERE rank <= 3),
         ed AS (SELECT q.vec_id AS q_id, e.vec_id, sum(q.x * e.x) AS dot
                FROM ex q JOIN ex e ON q.i = e.i
                  AND q.vec_id BETWEEN 100 AND 105
                  AND e.vec_id <> q.vec_id
                GROUP BY 1, 2),
         etop AS (SELECT q_id, vec_id FROM (
                    SELECT ed.q_id, ed.vec_id, row_number() OVER (
                      PARTITION BY ed.q_id
                      ORDER BY round(ed.dot/(nq.n * nv.n), 6) DESC,
                        ed.vec_id) AS rank
                    FROM ed JOIN nrm nq ON ed.q_id = nq.vec_id
                            JOIN nrm nv ON ed.vec_id = nv.vec_id)
                  WHERE rank <= 3)
         SELECT 'raw' AS arm, e.q_id, CAST(count(*) AS BIGINT) AS k,
                CAST(count(x.vec_id) AS BIGINT) AS n_hit,
                round(count(x.vec_id) / CAST(count(*) AS DOUBLE), 4)
                  AS recall
         FROM etop e LEFT JOIN a1 x
           ON x.q_id = e.q_id AND x.vec_id = e.vec_id
         GROUP BY 2
         UNION ALL
         SELECT 'residual' AS arm, e.q_id, CAST(count(*) AS BIGINT) AS k,
                CAST(count(x.vec_id) AS BIGINT) AS n_hit,
                round(count(x.vec_id) / CAST(count(*) AS DOUBLE), 4)
                  AS recall
         FROM etop e LEFT JOIN ar x
           ON x.q_id = e.q_id AND x.vec_id = e.vec_id
         GROUP BY 2""",
    "q340_ivfpq_multiprobe" ->
      s"""WITH $assignSql,
         $pqTrainSql,
         $adcCtesSql
         SELECT q_id, cell, vec_id, rank, adist FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY adist ASC, vec_id ASC) AS rank
           FROM cand2) WHERE rank <= 3""",
    "q341_adc_recall" ->
      s"""WITH $assignSql,
         $pqTrainSql,
         $adcCtesSql,
         a1 AS (SELECT q_id, vec_id FROM (
                  SELECT q_id, vec_id, row_number() OVER (
                    PARTITION BY q_id ORDER BY adist ASC, vec_id ASC)
                    AS rank
                  FROM cand) WHERE rank <= 3),
         a2 AS (SELECT q_id, vec_id FROM (
                  SELECT q_id, vec_id, row_number() OVER (
                    PARTITION BY q_id ORDER BY adist ASC, vec_id ASC)
                    AS rank
                  FROM cand2) WHERE rank <= 3),
         ed AS (SELECT q.vec_id AS q_id, e.vec_id, sum(q.x * e.x) AS dot
                FROM ex q JOIN ex e ON q.i = e.i
                  AND q.vec_id BETWEEN 100 AND 105
                  AND e.vec_id <> q.vec_id
                GROUP BY 1, 2),
         etop AS (SELECT q_id, vec_id FROM (
                    SELECT ed.q_id, ed.vec_id, row_number() OVER (
                      PARTITION BY ed.q_id
                      ORDER BY round(ed.dot/(nq.n * nv.n), 6) DESC,
                        ed.vec_id) AS rank
                    FROM ed JOIN nrm nq ON ed.q_id = nq.vec_id
                            JOIN nrm nv ON ed.vec_id = nv.vec_id)
                  WHERE rank <= 3)
         SELECT 'adc1' AS arm, e.q_id, CAST(count(*) AS BIGINT) AS k,
                CAST(count(x.vec_id) AS BIGINT) AS n_hit,
                round(count(x.vec_id) / CAST(count(*) AS DOUBLE), 4)
                  AS recall
         FROM etop e LEFT JOIN a1 x
           ON x.q_id = e.q_id AND x.vec_id = e.vec_id
         GROUP BY 2
         UNION ALL
         SELECT 'adc2' AS arm, e.q_id, CAST(count(*) AS BIGINT) AS k,
                CAST(count(x.vec_id) AS BIGINT) AS n_hit,
                round(count(x.vec_id) / CAST(count(*) AS DOUBLE), 4)
                  AS recall
         FROM etop e LEFT JOIN a2 x
           ON x.q_id = e.q_id AND x.vec_id = e.vec_id
         GROUP BY 2""",
    "q181_label_centroid_sim" ->
      """WITH ex AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         cent AS (SELECT label, i, round(avg(x), 6) AS m FROM ex GROUP BY 1, 2),
         nrm AS (SELECT label, sqrt(sum(m*m)) AS nn FROM cent GROUP BY 1),
         dot AS (SELECT a.label AS la, b.label AS lb, sum(a.m * b.m) AS dot
                 FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
                 GROUP BY 1, 2)
         SELECT la, lb, round(dot / (na.nn * nb.nn), 4) AS cos
         FROM dot JOIN nrm na ON dot.la = na.label
                  JOIN nrm nb ON dot.lb = nb.label""",
    "q206_pq_train" ->
      s"""WITH $pqTrainSql
         SELECT CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code,
                CAST(u.i AS BIGINT) AS i, cw[u.i] AS w
         FROM pc2, range(1, 17) u(i)""",
    "q165_pq_assign" ->
      """WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
         subs AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS sub
                  FROM e, range(0, 4) t(m)),
         cbs AS (SELECT m AS cm, vec_id AS code, sub AS cw
                 FROM subs WHERE vec_id < 4),
         sc AS (SELECT s.vec_id, s.m, c.code,
                  round(list_sum(list_transform(range(1, 17),
                    i -> (s.sub[i] - c.cw[i]) * (s.sub[i] - c.cw[i]))), 6)
                    AS dist2
                FROM subs s JOIN cbs c ON c.cm = s.m),
         best AS (SELECT vec_id, m, code, dist2,
                    row_number() OVER (PARTITION BY vec_id, m
                      ORDER BY dist2 ASC, code ASC) AS rn
                  FROM sc)
         SELECT m, code, count(*) AS n, round(avg(dist2), 6) AS avg_dist2
         FROM best WHERE rn = 1 GROUP BY 1, 2""",
    "q153_knn_consistency" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         lab AS (SELECT vec_id, label FROM embeddings),
         d AS (SELECT q.vec_id AS q_id, e.vec_id AS nn_id, sum(q.x * e.x) AS dot
               FROM ex q JOIN ex e ON q.i = e.i
                 AND q.vec_id < 100 AND e.vec_id <> q.vec_id
               GROUP BY 1, 2),
         c AS (SELECT d.q_id, d.nn_id, round(d.dot/(nq.n * ne.n), 6) AS cos
               FROM d JOIN nrm nq ON d.q_id = nq.vec_id
                      JOIN nrm ne ON d.nn_id = ne.vec_id),
         nn AS (SELECT q_id, nn_id FROM (
                  SELECT q_id, nn_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, nn_id) AS rank FROM c)
                WHERE rank <= 5),
         votes AS (SELECT nn.q_id, lq.label AS q_label, ln.label, count(*) AS n
                   FROM nn JOIN lab lq ON nn.q_id = lq.vec_id
                           JOIN lab ln ON nn.nn_id = ln.vec_id
                   GROUP BY 1, 2, 3),
         maj AS (SELECT q_id, q_label, label FROM (
                   SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY n DESC, label ASC) AS mr FROM votes)
                 WHERE mr = 1)
         SELECT q_label, count(*) AS n_queries,
                CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_consistent,
                round(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 4) AS rate
         FROM maj GROUP BY 1""",
    "q150_hard_negatives" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         lab AS (SELECT vec_id, label FROM embeddings),
         d AS (SELECT q.vec_id AS q_id, e.vec_id AS neg_id, sum(q.x * e.x) AS dot
               FROM ex q JOIN ex e ON q.i = e.i
                 AND q.vec_id < 5 AND e.vec_id <> q.vec_id
               GROUP BY 1, 2),
         c AS (SELECT d.q_id, lq.label AS q_label, d.neg_id,
                      ln.label AS neg_label,
                      round(d.dot/(nq.n * ne.n), 6) AS cos
               FROM d JOIN nrm nq ON d.q_id = nq.vec_id
                      JOIN nrm ne ON d.neg_id = ne.vec_id
                      JOIN lab lq ON d.q_id = lq.vec_id
                      JOIN lab ln ON d.neg_id = ln.vec_id
               WHERE lq.label <> ln.label)
         SELECT q_id, q_label, neg_id, neg_label, rank, cos FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, neg_id) AS BIGINT) AS rank FROM c)
         WHERE rank <= 3""",
    "q146_semantic_dedup" ->
      s"""WITH $assignSql,
         ac AS (SELECT a.vec_id, a.cell, cc.ccos
                FROM assigned a
                JOIN cc ON cc.vec_id = a.vec_id AND cc.cent_id = a.cell),
         pos AS (SELECT vec_id, cell, ccos,
                   row_number() OVER (PARTITION BY cell
                     ORDER BY ccos ASC, vec_id ASC) AS pos
                 FROM ac),
         pd AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                       sum(xa.x * xb.x) AS dot
                FROM pos a JOIN pos b ON a.cell = b.cell AND a.pos < b.pos
                  JOIN ex xa ON xa.vec_id = a.vec_id
                  JOIN ex xb ON xb.vec_id = b.vec_id AND xb.i = xa.i
                GROUP BY 1, 2),
         pc AS (SELECT pd.b_id, round(pd.dot/(na.n * nb.n), 6) AS cos
                FROM pd JOIN nrm na ON pd.a_id = na.vec_id
                        JOIN nrm nb ON pd.b_id = nb.vec_id),
         prior AS (SELECT b_id AS vec_id, max(cos) AS max_prior_sim
                   FROM pc GROUP BY 1)
         SELECT p.vec_id, p.cell, p.ccos, pr.max_prior_sim,
                (pr.max_prior_sim IS NULL OR pr.max_prior_sim < 0.38) AS keep
         FROM pos p LEFT JOIN prior pr ON pr.vec_id = p.vec_id""",
    "q128_ann_recall" ->
      s"""WITH $assignSql,
         probes AS (SELECT vec_id AS q_id, cell FROM assigned
                    WHERE vec_id BETWEEN 100 AND 105),
         cand AS (SELECT p.q_id, a.vec_id
                  FROM probes p JOIN assigned a ON p.cell = a.cell
                  WHERE a.vec_id <> p.q_id),
         pd AS (SELECT c.q_id, c.vec_id, sum(xq.x * xv.x) AS dot
                FROM cand c JOIN ex xq ON xq.vec_id = c.q_id
                            JOIN ex xv ON xv.vec_id = c.vec_id AND xq.i = xv.i
                GROUP BY 1, 2),
         pc AS (SELECT pd.q_id, pd.vec_id, round(pd.dot/(nq.n * nv.n), 6) AS cos
                FROM pd JOIN nrm nq ON pd.q_id = nq.vec_id
                        JOIN nrm nv ON pd.vec_id = nv.vec_id),
         ivf AS (SELECT q_id, vec_id FROM (
                   SELECT q_id, vec_id,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rank FROM pc)
                 WHERE rank <= 3),
         ed AS (SELECT q.vec_id AS q_id, e.vec_id, sum(q.x * e.x) AS dot
                FROM ex q JOIN ex e ON q.i = e.i
                  AND q.vec_id BETWEEN 100 AND 105 AND e.vec_id <> q.vec_id
                GROUP BY 1, 2),
         ec AS (SELECT ed.q_id, ed.vec_id, round(ed.dot/(nq.n * nv.n), 6) AS cos
                FROM ed JOIN nrm nq ON ed.q_id = nq.vec_id
                        JOIN nrm nv ON ed.vec_id = nv.vec_id),
         exact AS (SELECT q_id, vec_id FROM (
                     SELECT q_id, vec_id,
                            row_number() OVER (PARTITION BY q_id
                              ORDER BY cos DESC, vec_id) AS rank FROM ec)
                   WHERE rank <= 3)
         SELECT e.q_id, count(*) AS k,
                CAST(count(i.vec_id) AS BIGINT) AS n_hit,
                round(count(i.vec_id) / CAST(count(*) AS DOUBLE), 4) AS recall
         FROM exact e LEFT JOIN ivf i
           ON e.q_id = i.q_id AND e.vec_id = i.vec_id
         GROUP BY 1""",
    "q127_embedding_quant" ->
      """WITH v AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings),
         s AS (SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v)
         SELECT vec_id, round(scale, 8) AS scale,
           round(list_max(list_transform(v,
             x -> abs(x - round(x / scale) * scale))), 8) AS max_err,
           CAST(len(list_filter(v,
             x -> abs(round(x / scale)) >= 127.0)) AS BIGINT) AS n_sat
         FROM s""",
    "q71_multiprobe_ann" ->
      s"""WITH $assignSql,
         ranked AS (SELECT vec_id, cent_id, ccos,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY ccos DESC, cent_id) AS rn
                    FROM cc),
         probes AS (SELECT vec_id AS q_id, cent_id AS cell FROM ranked
                    WHERE rn <= 2 AND vec_id BETWEEN 100 AND 105),
         cand AS (SELECT p.q_id, a.vec_id
                  FROM probes p JOIN assigned a ON p.cell = a.cell
                  WHERE a.vec_id <> p.q_id),
         pd AS (SELECT c.q_id, c.vec_id, sum(xq.x * xv.x) AS dot
                FROM cand c JOIN ex xq ON xq.vec_id = c.q_id
                            JOIN ex xv ON xv.vec_id = c.vec_id AND xq.i = xv.i
                GROUP BY 1, 2),
         pc AS (SELECT pd.q_id, pd.vec_id,
                       round(pd.dot/(nq.n * nv.n), 6) AS cos
                FROM pd JOIN nrm nq ON pd.q_id = nq.vec_id
                        JOIN nrm nv ON pd.vec_id = nv.vec_id)
         SELECT q_id, vec_id, rank, cos FROM (
           SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS rank
           FROM pc) WHERE rank <= 3""",
    "q186_kmeans_train" -> {
      // one Lloyd round against centroid table c{t-1} → assignment a{t}
      // and rounded-mean centroids c{t} (empty cells keep the previous
      // centroid) — the engine's trajectory replayed verbatim
      def iter(t: Int): String = {
        val prev = s"c${t - 1}"
        s"""cd$t AS (SELECT v.vec_id, c.cent_id, sum(v.x * c.m) AS dot
               FROM ex v JOIN $prev c ON v.i = c.i GROUP BY 1, 2),
           cn$t AS (SELECT cent_id, sqrt(sum(m*m)) AS n FROM $prev GROUP BY 1),
           cc$t AS (SELECT cd$t.vec_id, cd$t.cent_id,
                    round(cd$t.dot/(nv.n * cn$t.n), 6) AS ccos
                    FROM cd$t JOIN nrm nv ON cd$t.vec_id = nv.vec_id
                              JOIN cn$t ON cd$t.cent_id = cn$t.cent_id),
           a$t AS (SELECT vec_id, cent_id AS cell FROM (
                     SELECT vec_id, cent_id,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cent_id) AS rn
                     FROM cc$t) WHERE rn = 1),
           m$t AS (SELECT a.cell AS cent_id, e.i,
                          round(sum(e.x)/count(*), 6) AS m
                   FROM a$t a JOIN ex e ON a.vec_id = e.vec_id GROUP BY 1, 2),
           c$t AS (SELECT * FROM m$t
                   UNION ALL
                   SELECT p.cent_id, p.i, p.m FROM $prev p
                   WHERE p.cent_id NOT IN (SELECT DISTINCT cent_id FROM m$t))"""
      }
      s"""WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         c0 AS (SELECT vec_id AS cent_id, i, x AS m FROM ex WHERE vec_id < 8),
         ${iter(1)},
         ${iter(2)},
         ${iter(3)},
         n3 AS (SELECT cell, count(*) AS n FROM a3 GROUP BY 1),
         cnorm AS (SELECT cent_id, round(sqrt(sum(m*m)), 4) AS new_norm
                   FROM c3 GROUP BY 1)
         SELECT n3.cell, CAST(n3.n AS BIGINT) AS n_assigned, cnorm.new_norm
         FROM n3 JOIN cnorm ON cnorm.cent_id = n3.cell"""
    },
    "q68_kmeans_step" ->
      s"""WITH $assignSql,
         mem AS (SELECT a.cell, e.i, e.x
                 FROM assigned a JOIN ex e ON a.vec_id = e.vec_id),
         dim AS (SELECT cell, i, round(sum(x)/count(*), 6) AS m, count(*) AS n
                 FROM mem GROUP BY 1, 2)
         SELECT cell, CAST(max(n) AS BIGINT) AS n_assigned,
                round(sqrt(sum(m*m)), 4) AS new_norm
         FROM dim GROUP BY 1""",
    "q317_bitext_mining" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         lg AS (SELECT doc_id AS vec_id, lang FROM documents),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         aa AS (SELECT ex.vec_id, i, x FROM ex JOIN lg USING (vec_id)
                WHERE lang = 'en'),
         bb AS (SELECT ex.vec_id, i, x FROM ex JOIN lg USING (vec_id)
                WHERE lang = 'de'),
         dots AS (SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
                    sum(a.x * b.x) AS dot
                  FROM aa a JOIN bb b ON a.i = b.i GROUP BY 1, 2),
         c AS (SELECT src_id, tgt_id,
                 round(dot / (na.n * nb.n), 6) AS cos
               FROM dots JOIN nrm na ON src_id = na.vec_id
                         JOIN nrm nb ON tgt_id = nb.vec_id),
         cm AS (SELECT src_id, tgt_id, cos,
                  CAST(round(cos * 1e6) AS BIGINT) AS cm
                FROM c),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY src_id
                   ORDER BY cm DESC, tgt_id) AS rs,
                 row_number() OVER (PARTITION BY tgt_id
                   ORDER BY cm DESC, src_id) AS rt
               FROM cm),
         t4 AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS scm,
                  CAST(count(*) AS BIGINT) AS k4,
                  CAST(max(CASE WHEN rs = 1 THEN cm END) AS BIGINT) AS best
                FROM r WHERE rs <= 4 GROUP BY 1)
         SELECT r.src_id, r.tgt_id, r.cos,
                round(CAST(best * k4 - scm AS DOUBLE)
                      / (CAST(k4 AS DOUBLE) * 1000000.0), 6) AS margin
         FROM r JOIN t4 USING (src_id) WHERE rs = 1 AND rt = 1""",
    "q320_bitext_ivf" ->
      s"""WITH $assignSql,
         lg AS (SELECT doc_id AS vec_id, lang FROM documents),
         cand AS (SELECT sa.vec_id AS src_id, sb.vec_id AS tgt_id
                  FROM assigned sa
                  JOIN lg la ON la.vec_id = sa.vec_id AND la.lang = 'en'
                  JOIN assigned sb ON sb.cell = sa.cell
                  JOIN lg lb ON lb.vec_id = sb.vec_id AND lb.lang = 'de'),
         dots AS (SELECT cd2.src_id, cd2.tgt_id, sum(a.x * b.x) AS dot
                  FROM cand cd2
                  JOIN ex a ON a.vec_id = cd2.src_id
                  JOIN ex b ON b.vec_id = cd2.tgt_id AND b.i = a.i
                  GROUP BY 1, 2),
         co AS (SELECT src_id, tgt_id, round(dot / (na.n * nb.n), 6) AS cos
                FROM dots JOIN nrm na ON src_id = na.vec_id
                          JOIN nrm nb ON tgt_id = nb.vec_id),
         cmt AS (SELECT src_id, tgt_id, cos,
                   CAST(round(cos * 1e6) AS BIGINT) AS cm
                 FROM co),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY src_id
                   ORDER BY cm DESC, tgt_id) AS rs,
                 row_number() OVER (PARTITION BY tgt_id
                   ORDER BY cm DESC, src_id) AS rt
               FROM cmt),
         t4 AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS scm,
                  CAST(count(*) AS BIGINT) AS k4,
                  CAST(max(CASE WHEN rs = 1 THEN cm END) AS BIGINT) AS best
                FROM r WHERE rs <= 4 GROUP BY 1)
         SELECT r.src_id, r.tgt_id, r.cos,
                round(CAST(best * k4 - scm AS DOUBLE)
                      / (CAST(k4 AS DOUBLE) * 1000000.0), 6) AS margin
         FROM r JOIN t4 USING (src_id) WHERE rs = 1 AND rt = 1""",
    "q335_proximity_screen_ivf" ->
      s"""WITH $assignSql,
         dots AS (SELECT ae.vec_id AS eval_id, at.vec_id AS train_id,
                    sum(e.x * tr.x) AS dot
                  FROM assigned ae
                  JOIN assigned at ON at.cell = ae.cell
                  JOIN ex e ON e.vec_id = ae.vec_id
                  JOIN ex tr ON tr.vec_id = at.vec_id AND tr.i = e.i
                  WHERE ae.vec_id % 31 = 0 AND at.vec_id % 31 <> 0
                  GROUP BY 1, 2),
         c AS (SELECT eval_id, train_id,
                 CAST(round(round(dot / (ne.n * nt.n), 6) * 1e6) AS BIGINT)
                   AS cm
               FROM dots JOIN nrm ne ON eval_id = ne.vec_id
                         JOIN nrm nt ON train_id = nt.vec_id),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY eval_id
                   ORDER BY cm DESC, train_id) AS rn
               FROM c),
         agg AS (SELECT eval_id,
                   CAST(sum(CASE WHEN cm >= 500000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_close
                 FROM c GROUP BY 1)
         SELECT r.eval_id, round(CAST(cm AS DOUBLE) / 1e6, 6) AS max_cos,
                r.train_id AS nearest_train, agg.n_close
         FROM r JOIN agg USING (eval_id) WHERE rn = 1""",
    "q334_semantic_eval_proximity" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         dots AS (SELECT e.vec_id AS eval_id, tr.vec_id AS train_id,
                    sum(e.x * tr.x) AS dot
                  FROM ex e JOIN ex tr ON tr.i = e.i
                  WHERE e.vec_id % 31 = 0 AND tr.vec_id % 31 <> 0
                  GROUP BY 1, 2),
         c AS (SELECT eval_id, train_id,
                 CAST(round(round(dot / (ne.n * nt.n), 6) * 1e6) AS BIGINT)
                   AS cm
               FROM dots JOIN nrm ne ON eval_id = ne.vec_id
                         JOIN nrm nt ON train_id = nt.vec_id),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY eval_id
                   ORDER BY cm DESC, train_id) AS rn
               FROM c),
         agg AS (SELECT eval_id,
                   CAST(sum(CASE WHEN cm >= 500000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_close
                 FROM c GROUP BY 1)
         SELECT r.eval_id, round(CAST(cm AS DOUBLE) / 1e6, 6) AS max_cos,
                r.train_id AS nearest_train, agg.n_close
         FROM r JOIN agg USING (eval_id) WHERE rn = 1""",
    "q332_bitext_multiprobe" ->
      s"""WITH $assignSql,
         probed AS (SELECT vec_id, cent_id AS cell FROM (
                      SELECT vec_id, cent_id,
                             row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, cent_id) AS rn
                      FROM cc) WHERE rn <= 2),
         lg AS (SELECT doc_id AS vec_id, lang FROM documents),
         cand AS (SELECT DISTINCT pa.vec_id AS src_id, sb.vec_id AS tgt_id
                  FROM probed pa
                  JOIN lg la ON la.vec_id = pa.vec_id AND la.lang = 'en'
                  JOIN assigned sb ON sb.cell = pa.cell
                  JOIN lg lb ON lb.vec_id = sb.vec_id AND lb.lang = 'de'),
         dots AS (SELECT cd2.src_id, cd2.tgt_id, sum(a.x * b.x) AS dot
                  FROM cand cd2
                  JOIN ex a ON a.vec_id = cd2.src_id
                  JOIN ex b ON b.vec_id = cd2.tgt_id AND b.i = a.i
                  GROUP BY 1, 2),
         co AS (SELECT src_id, tgt_id, round(dot / (na.n * nb.n), 6) AS cos
                FROM dots JOIN nrm na ON src_id = na.vec_id
                          JOIN nrm nb ON tgt_id = nb.vec_id),
         cmt AS (SELECT src_id, tgt_id, cos,
                   CAST(round(cos * 1e6) AS BIGINT) AS cm
                 FROM co),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY src_id
                   ORDER BY cm DESC, tgt_id) AS rs,
                 row_number() OVER (PARTITION BY tgt_id
                   ORDER BY cm DESC, src_id) AS rt
               FROM cmt),
         t4 AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS scm,
                  CAST(count(*) AS BIGINT) AS k4,
                  CAST(max(CASE WHEN rs = 1 THEN cm END) AS BIGINT) AS best
                FROM r WHERE rs <= 4 GROUP BY 1)
         SELECT r.src_id, r.tgt_id, r.cos,
                round(CAST(best * k4 - scm AS DOUBLE)
                      / (CAST(k4 AS DOUBLE) * 1000000.0), 6) AS margin
         FROM r JOIN t4 USING (src_id) WHERE rs = 1 AND rt = 1""",
    "q337_quantizer_census" ->
      s"""WITH $assignSql,
         ac AS (SELECT a.vec_id, a.cell, cc.ccos
                FROM assigned a
                JOIN cc ON cc.vec_id = a.vec_id AND cc.cent_id = a.cell),
         m AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
                 CAST(sum(CAST(round(ccos * 1e6) AS BIGINT)) AS BIGINT)
                   AS scm,
                 min(ccos) AS min_ccos, max(ccos) AS max_ccos
               FROM ac GROUP BY 1)
         SELECT cell, n_members,
                round(CAST(scm AS DOUBLE)
                      / (1e6 * CAST(n_members AS DOUBLE)), 6) AS avg_ccos,
                min_ccos, max_ccos
         FROM m""",
    "q338_ivf_imbalance" ->
      s"""WITH $assignSql,
         oc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_c
                FROM assigned GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(sum(n_c) AS BIGINT) AS n,
                round(CAST(count(*) AS DOUBLE)
                        * CAST(sum(n_c * n_c) AS DOUBLE)
                      / (CAST(sum(n_c) AS DOUBLE)
                        * CAST(sum(n_c) AS DOUBLE)), 6) AS imbalance,
                CAST(max(n_c) AS BIGINT) AS max_occ,
                CAST(sum(CASE WHEN n_c > $IvfCellCap THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_over_cap
         FROM oc""",
    "q339_multiprobe_screen" ->
      s"""WITH $assignSql,
         probed AS (SELECT vec_id, cent_id AS cell FROM (
                      SELECT vec_id, cent_id,
                             row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, cent_id) AS rn
                      FROM cc WHERE vec_id % 31 = 0) WHERE rn <= 2),
         dots AS (SELECT p.vec_id AS eval_id, at.vec_id AS train_id,
                    sum(e.x * tr.x) AS dot
                  FROM probed p
                  JOIN assigned at ON at.cell = p.cell
                  JOIN ex e ON e.vec_id = p.vec_id
                  JOIN ex tr ON tr.vec_id = at.vec_id AND tr.i = e.i
                  WHERE at.vec_id % 31 <> 0
                  GROUP BY 1, 2),
         c AS (SELECT eval_id, train_id,
                 CAST(round(round(dot / (ne.n * nt.n), 6) * 1e6) AS BIGINT)
                   AS cm
               FROM dots JOIN nrm ne ON eval_id = ne.vec_id
                         JOIN nrm nt ON train_id = nt.vec_id),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY eval_id
                   ORDER BY cm DESC, train_id) AS rn
               FROM c),
         agg AS (SELECT eval_id,
                   CAST(sum(CASE WHEN cm >= 500000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_close
                 FROM c GROUP BY 1)
         SELECT r.eval_id, round(CAST(cm AS DOUBLE) / 1e6, 6) AS max_cos,
                r.train_id AS nearest_train, agg.n_close
         FROM r JOIN agg USING (eval_id) WHERE rn = 1""",
    // the router replayed: both candidate chains share the cosine table
    // (xcm), the route predicate is the same |en|·|de| ≤ bound compare,
    // and exactly one arm of the UNION survives — the engine's
    // driver-side if/else expressed as two route-gated SELECTs
    "q336_bitext_auto" ->
      s"""WITH $assignSql,
         lg AS (SELECT doc_id AS vec_id, lang FROM documents),
         rc AS (SELECT
                  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS BIGINT) AS ne,
                  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                       AS BIGINT) AS nd
                FROM embeddings e JOIN lg ON lg.vec_id = e.vec_id),
         xdots AS (SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
                     sum(a.x * b.x) AS dot
                   FROM ex a JOIN lg la ON la.vec_id = a.vec_id
                                       AND la.lang = 'en'
                   JOIN ex b ON b.i = a.i
                   JOIN lg lb ON lb.vec_id = b.vec_id AND lb.lang = 'de'
                   GROUP BY 1, 2),
         xcm AS (SELECT src_id, tgt_id,
                   round(dot / (na.n * nb.n), 6) AS cos,
                   CAST(round(round(dot / (na.n * nb.n), 6) * 1e6)
                        AS BIGINT) AS cm
                 FROM xdots JOIN nrm na ON src_id = na.vec_id
                            JOIN nrm nb ON tgt_id = nb.vec_id),
         xr AS (SELECT *,
                  row_number() OVER (PARTITION BY src_id
                    ORDER BY cm DESC, tgt_id) AS rs,
                  row_number() OVER (PARTITION BY tgt_id
                    ORDER BY cm DESC, src_id) AS rt
                FROM xcm),
         xt4 AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS scm,
                   CAST(count(*) AS BIGINT) AS k4,
                   CAST(max(CASE WHEN rs = 1 THEN cm END) AS BIGINT) AS best
                 FROM xr WHERE rs <= 4 GROUP BY 1),
         xout AS (SELECT xr.src_id, xr.tgt_id, xr.cos,
                    round(CAST(best * k4 - scm AS DOUBLE)
                          / (CAST(k4 AS DOUBLE) * 1000000.0), 6) AS margin
                  FROM xr JOIN xt4 USING (src_id) WHERE rs = 1 AND rt = 1),
         icand AS (SELECT sa.vec_id AS src_id, sb.vec_id AS tgt_id
                   FROM assigned sa
                   JOIN lg la ON la.vec_id = sa.vec_id AND la.lang = 'en'
                   JOIN assigned sb ON sb.cell = sa.cell
                   JOIN lg lb ON lb.vec_id = sb.vec_id AND lb.lang = 'de'),
         icm AS (SELECT c.src_id, c.tgt_id, x.cos, x.cm
                 FROM icand c JOIN xcm x ON x.src_id = c.src_id
                                        AND x.tgt_id = c.tgt_id),
         ir AS (SELECT *,
                  row_number() OVER (PARTITION BY src_id
                    ORDER BY cm DESC, tgt_id) AS rs,
                  row_number() OVER (PARTITION BY tgt_id
                    ORDER BY cm DESC, src_id) AS rt
                FROM icm),
         it4 AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS scm,
                   CAST(count(*) AS BIGINT) AS k4,
                   CAST(max(CASE WHEN rs = 1 THEN cm END) AS BIGINT) AS best
                 FROM ir WHERE rs <= 4 GROUP BY 1),
         iout AS (SELECT ir.src_id, ir.tgt_id, ir.cos,
                    round(CAST(best * k4 - scm AS DOUBLE)
                          / (CAST(k4 AS DOUBLE) * 1000000.0), 6) AS margin
                  FROM ir JOIN it4 USING (src_id) WHERE rs = 1 AND rt = 1)
         SELECT src_id, tgt_id, cos, margin FROM xout
         WHERE (SELECT ne * nd FROM rc) <= $BitextExactPairBound
         UNION ALL
         SELECT src_id, tgt_id, cos, margin FROM iout
         WHERE (SELECT ne * nd FROM rc) > $BitextExactPairBound""",
    "q328_bitext_ivf_recall" ->
      s"""WITH $assignSql,
         lg AS (SELECT doc_id AS vec_id, lang FROM documents),
         dx AS (SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
                  sum(a.x * b.x) AS dot
                FROM ex a JOIN lg la ON la.vec_id = a.vec_id
                                    AND la.lang = 'en'
                JOIN ex b ON b.i = a.i
                JOIN lg lb ON lb.vec_id = b.vec_id AND lb.lang = 'de'
                GROUP BY 1, 2),
         cx AS (SELECT src_id, tgt_id,
                  CAST(round(round(dot / (na.n * nb.n), 6) * 1e6) AS BIGINT)
                    AS cm
                FROM dx JOIN nrm na ON src_id = na.vec_id
                        JOIN nrm nb ON tgt_id = nb.vec_id),
         rx AS (SELECT *,
                  row_number() OVER (PARTITION BY src_id
                    ORDER BY cm DESC, tgt_id) AS rs,
                  row_number() OVER (PARTITION BY tgt_id
                    ORDER BY cm DESC, src_id) AS rt
                FROM cx),
         px AS (SELECT src_id, tgt_id FROM rx WHERE rs = 1 AND rt = 1),
         ci AS (SELECT sa.vec_id AS src_id, sb.vec_id AS tgt_id
                FROM assigned sa
                JOIN lg la ON la.vec_id = sa.vec_id AND la.lang = 'en'
                JOIN assigned sb ON sb.cell = sa.cell
                JOIN lg lb ON lb.vec_id = sb.vec_id AND lb.lang = 'de'),
         cmi AS (SELECT c.src_id, c.tgt_id, cx.cm
                 FROM ci c JOIN cx ON cx.src_id = c.src_id
                                  AND cx.tgt_id = c.tgt_id),
         ri AS (SELECT *,
                  row_number() OVER (PARTITION BY src_id
                    ORDER BY cm DESC, tgt_id) AS rs,
                  row_number() OVER (PARTITION BY tgt_id
                    ORDER BY cm DESC, src_id) AS rt
                FROM cmi),
         pi AS (SELECT src_id, tgt_id FROM ri WHERE rs = 1 AND rt = 1),
         nx AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM px),
         ni AS (SELECT CAST(count(*) AS BIGINT) AS n_ivf FROM pi),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n_shared
                FROM px JOIN pi USING (src_id, tgt_id))
         SELECT n_exact, n_ivf, n_shared,
                CASE WHEN n_exact = 0 THEN NULL
                     ELSE round(CAST(n_shared AS DOUBLE)
                                / CAST(n_exact AS DOUBLE), 6) END AS recall,
                CASE WHEN n_ivf = 0 THEN NULL
                     ELSE round(CAST(n_shared AS DOUBLE)
                                / CAST(n_ivf AS DOUBLE), 6) END AS precision
         FROM nx, ni, ns""",
    "q69_embedding_neardup" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i) WHERE vec_id < 300),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x*b.x) AS dot
                  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
                  GROUP BY 1, 2)
         SELECT d.vec_a, d.vec_b, round(d.dot/(na.n*nb.n), 6) AS cos
         FROM dots d JOIN nrm na ON d.vec_a = na.vec_id
                     JOIN nrm nb ON d.vec_b = nb.vec_id
         WHERE round(d.dot/(na.n*nb.n), 6) >= 0.40""",
    "q60_ivf_ann" ->
      s"""WITH $assignSql,
         q AS (SELECT vec_id AS q_id, cell FROM assigned
               WHERE vec_id BETWEEN 100 AND 105),
         cand AS (SELECT q.q_id, q.cell, a.vec_id
                  FROM q JOIN assigned a ON q.cell = a.cell AND a.vec_id <> q.q_id),
         pd AS (SELECT c.q_id, c.cell, c.vec_id, sum(xq.x * xv.x) AS dot
                FROM cand c JOIN ex xq ON xq.vec_id = c.q_id
                            JOIN ex xv ON xv.vec_id = c.vec_id AND xq.i = xv.i
                GROUP BY 1, 2, 3),
         pc AS (SELECT pd.q_id, pd.cell, pd.vec_id,
                       round(pd.dot/(nq.n * nv.n), 6) AS cos
                FROM pd JOIN nrm nq ON pd.q_id = nq.vec_id
                        JOIN nrm nv ON pd.vec_id = nv.vec_id)
         SELECT q_id, cell, vec_id, rank, cos FROM (
           SELECT q_id, cell, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS rank
           FROM pc) WHERE rank <= 3""",
    // q310: one exploded pass computes full + all prefix dots/norms via
    // conditional sums; truth = full-dim top-10, prefix top-10s rank per
    // (dim, q_id); recall joins prefix hits onto truth rows
    "q310_matryoshka_recall" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         d AS (SELECT q.vec_id AS q_id, e.vec_id,
                 sum(q.x * e.x) AS dot64,
                 sum(CASE WHEN q.i <= 8 THEN q.x * e.x ELSE 0 END) AS dot8,
                 sum(CASE WHEN q.i <= 16 THEN q.x * e.x ELSE 0 END) AS dot16,
                 sum(CASE WHEN q.i <= 32 THEN q.x * e.x ELSE 0 END) AS dot32
               FROM ex q JOIN ex e ON q.i = e.i
                 AND q.vec_id < 20 AND e.vec_id <> q.vec_id
               GROUP BY 1, 2),
         nr AS (SELECT vec_id, sqrt(sum(x*x)) AS n64,
                  sqrt(sum(CASE WHEN i <= 8 THEN x*x ELSE 0 END)) AS n8,
                  sqrt(sum(CASE WHEN i <= 16 THEN x*x ELSE 0 END)) AS n16,
                  sqrt(sum(CASE WHEN i <= 32 THEN x*x ELSE 0 END)) AS n32
                FROM ex GROUP BY 1),
         c AS (SELECT d.q_id, d.vec_id,
                 round(dot64/(a.n64*b.n64), 4) AS cos64,
                 round(dot8/(a.n8*b.n8), 4) AS cos8,
                 round(dot16/(a.n16*b.n16), 4) AS cos16,
                 round(dot32/(a.n32*b.n32), 4) AS cos32
               FROM d JOIN nr a ON d.q_id = a.vec_id
                      JOIN nr b ON d.vec_id = b.vec_id),
         truth AS (SELECT q_id, vec_id FROM (
                     SELECT q_id, vec_id, row_number() OVER (
                       PARTITION BY q_id ORDER BY cos64 DESC, vec_id) AS r
                     FROM c) WHERE r <= 10),
         p AS (SELECT dim, q_id, vec_id FROM (
                 SELECT dm.dim, c.q_id, c.vec_id, row_number() OVER (
                   PARTITION BY dm.dim, c.q_id
                   ORDER BY CASE dm.dim WHEN 8 THEN cos8
                            WHEN 16 THEN cos16 ELSE cos32 END DESC,
                            c.vec_id) AS r
                 FROM c CROSS JOIN (VALUES (8), (16), (32)) dm(dim))
               WHERE r <= 10),
         j AS (SELECT dm.dim, tr.q_id, tr.vec_id,
                 CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
               FROM truth tr CROSS JOIN (VALUES (8), (16), (32)) dm(dim)
               LEFT JOIN p ON p.dim = dm.dim AND p.q_id = tr.q_id
                 AND p.vec_id = tr.vec_id)
         SELECT CAST(dim AS BIGINT) AS dim, q_id,
                CAST(sum(hit) AS BIGINT) AS n_hit,
                round(CAST(sum(hit) AS DOUBLE) / 10.0, 4) AS recall
         FROM j GROUP BY 1, 2""",
    "q214_truncation_audit" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         n16 AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex
                 WHERE i <= 16 GROUP BY 1),
         d AS (SELECT q.vec_id AS q_id, e.vec_id,
                 sum(q.x * e.x) AS dot,
                 sum(CASE WHEN q.i <= 16 THEN q.x * e.x ELSE 0 END) AS dot16
               FROM ex q JOIN ex e ON q.i = e.i
                 AND q.vec_id BETWEEN 100 AND 105 AND e.vec_id <> q.vec_id
               GROUP BY 1, 2),
         c AS (SELECT d.q_id, d.vec_id,
                 round(d.dot/(nq.n * ne.n), 4) AS cos64,
                 round(d.dot16/(mq.n * me.n), 4) AS cos16
               FROM d JOIN nrm nq ON d.q_id = nq.vec_id
                      JOIN nrm ne ON d.vec_id = ne.vec_id
                      JOIN n16 mq ON d.q_id = mq.vec_id
                      JOIN n16 me ON d.vec_id = me.vec_id),
         rk AS (SELECT q_id, vec_id, cos64, cos16,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos64 DESC, vec_id) AS rank
                FROM c)
         SELECT q_id, vec_id, CAST(rank AS BIGINT) AS rank, cos64, cos16,
                round(abs(cos64 - cos16), 4) AS drift
         FROM rk WHERE rank <= 3""",
    "q37_cosine_topk" -> topKSql(5, 10, "q_id, vec_id, rank, cos"),
    "q43_nearest_neighbor" -> topKSql(50, 1, "q_id, vec_id AS nn_id, cos"),
    "q38_lsh_buckets" ->
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             FROM embeddings, range(1, 65) t(i)),
         sg AS (SELECT j, i,
                  CASE WHEN substr(md5(CAST(j AS VARCHAR)||'_'||CAST(i AS VARCHAR)), 1, 1) < '8'
                       THEN 1.0 ELSE -1.0 END AS sgn
                FROM range(0, 8) tj(j), range(1, 65) ti(i)),
         proj AS (SELECT ex.vec_id, sg.j, sum(sg.sgn * ex.x) AS p
                  FROM ex JOIN sg ON ex.i = sg.i GROUP BY 1, 2),
         sig AS (SELECT vec_id,
                   string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
                 FROM proj GROUP BY 1),
         nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY 1),
         pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket
                   FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         dots AS (SELECT p.vec_a, p.vec_b, p.bucket, sum(xa.x * xb.x) AS dot
                  FROM pairs p JOIN ex xa ON xa.vec_id = p.vec_a
                               JOIN ex xb ON xb.vec_id = p.vec_b AND xa.i = xb.i
                  GROUP BY 1, 2, 3)
         SELECT d.vec_a, d.vec_b, d.bucket, round(d.dot/(na.n * nb.n), 6) AS cos
         FROM dots d JOIN nrm na ON d.vec_a = na.vec_id JOIN nrm nb ON d.vec_b = nb.vec_id"""
  )
}
