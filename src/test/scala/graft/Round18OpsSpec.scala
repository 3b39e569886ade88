package graft

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, VectorOps}

/** Round-18 coverage: the persisted IVF index artifact (save/load round
  * trip, fingerprint staleness gate, artifact-preferred resolution),
  * PQ-codebook memoization (cache hit trains zero Lloyd jobs), the ADC
  * quality gates (in-cell agreement floor + trained-distortion
  * invariants), and the kcenter growth guard. Every test EXECUTES a
  * plan (the round-13 lesson). */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def freshTmp(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  test("IvfIndex save/load round trip: loaded centroids and BOTH codebook " +
      "flavors equal the in-session trained artifacts exactly, and the " +
      "assignment under loaded centroids is row-identical") {
    val tmp = freshTmp("ivfidx")
    try {
      val root = new java.io.File(tmp, "idx").getPath
      IvfIndex.build(spark, dir, root)
      val trained = VectorOps.coarseCentroids(spark, dir)
      val loaded = IvfIndex.loadCentroidsAt(spark, dir, root)
        .getOrElse(fail("fingerprint-valid artifact did not load"))
      assert(loaded.toSeq === trained.toSeq,
        "parquet round trip must reproduce the trained centroids bit-exactly")
      for (residual <- Seq(false, true)) {
        val flavor = if (residual) IvfIndex.FlavorResidual else IvfIndex.FlavorRaw
        val lcb = IvfIndex.loadCodebooksAt(spark, dir, flavor, root)
          .getOrElse(fail(s"no $flavor codebooks loaded"))
        assert(lcb.toSeq === VectorOps.pqCodebookRows(spark, dir, residual).toSeq,
          s"$flavor codebooks must round-trip exactly")
      }
      // assignment parity: same cells from loaded vs in-session centroids
      val base = Tables.embeddings(spark, dir).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val a = VectorOps.assignCells(base, trained)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = VectorOps.assignCells(base, loaded)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b)
    } finally util.Fs.deleteRecursively(tmp)
  }

  test("IvfIndex staleness gate: an artifact built before the corpus " +
      "changed refuses to load (fingerprint mismatch), instead of " +
      "silently serving stale centroids") {
    val tmp = freshTmp("ivfstale")
    try {
      // a writable corpus copy (the real corpus is read-only)
      val corpus = new java.io.File(tmp, "corpus"); corpus.mkdirs()
      val embCopy = new java.io.File(corpus, "embeddings.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(dir, "embeddings.parquet"), embCopy.toPath)
      val root = new java.io.File(tmp, "idx").getPath
      IvfIndex.build(spark, corpus.getPath, root)
      assert(IvfIndex.loadCentroidsAt(spark, corpus.getPath, root).nonEmpty,
        "artifact must load while the corpus is unchanged")
      // "rewrite" the table: same bytes, new mtime — the weakest change
      // the fingerprint must still catch
      assert(embCopy.setLastModified(embCopy.lastModified() + 60000))
      assert(IvfIndex.loadCentroidsAt(spark, corpus.getPath, root).isEmpty,
        "a stale artifact must be ignored, not served")
      assert(IvfIndex.loadCodebooksAt(spark, corpus.getPath,
          IvfIndex.FlavorRaw, root).isEmpty,
        "stale codebooks must be ignored too")
    } finally util.Fs.deleteRecursively(tmp)
  }

  test("PQ codebook memoization: the second consumer of the same " +
      "(corpus, flavor) trains ZERO Lloyd jobs — the by-name trainer " +
      "runs exactly once") {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    VectorOps.clearIndexCaches()
    try {
      spark.conf.unset("graft.index.dir")
      var trains = 0
      def cb() = VectorOps.pqCodebooksFor(spark, dir, residual = false) {
        trains += 1
        VectorOps.trainPqCodebooks(base)
      }
      val first = cb().orderBy("cm", "code").collect()
      val second = cb().orderBy("cm", "code").collect()
      assert(trains === 1,
        s"cache hit must not retrain (trainer ran $trains times)")
      assert(first.toSeq === second.toSeq)
      assert(first.length === 16, "4 subspaces x 4 codewords")
    } finally VectorOps.clearIndexCaches()
  }

  test("consumers PREFER a fingerprint-valid artifact over retraining: " +
      "with graft.index.dir pointing at a (deliberately doctored) " +
      "artifact, coarseCentroids serves the artifact's values") {
    val tmp = freshTmp("ivfpref")
    try {
      val root = new java.io.File(tmp, "idx").getPath
      IvfIndex.build(spark, dir, root)
      // doctor ONE centroid dimension in the persisted artifact; the
      // fingerprint stays valid (it fingerprints the CORPUS, not the
      // artifact), so a consumer that prefers the artifact MUST come
      // back with the doctored value — retraining would erase it
      val cents = spark.read.parquet(s"$root/centroids.parquet")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val doctored = cents.map { case (id, cv) =>
        if (id == cents.map(_._1).min) (id, cv.updated(0, 123.456))
        else (id, cv)
      }
      doctored.toSeq.toDF("cent_id", "cv")
        .write.mode("overwrite").parquet(s"$root/centroids.parquet")
      VectorOps.clearIndexCaches()
      spark.conf.set("graft.index.dir", root)
      val served = VectorOps.coarseCentroids(spark, dir)
      assert(served.exists(_._2.head == 123.456),
        "the artifact (not a retrain) must be the source of the centroids")
    } finally {
      // the doctored values MUST NOT leak into later suites
      spark.conf.unset("graft.index.dir")
      VectorOps.clearIndexCaches()
      util.Fs.deleteRecursively(tmp)
    }
  }

  test("q344/q345 artifact queries: q344 books every vector exactly once " +
      "under the loaded index, q345 equals the in-session q193 search " +
      "row-for-row") {
    val n = Tables.embeddings(spark, dir).count()
    val q344 = VectorOps.q344ArtifactAssign(spark, dir).collect()
    assert(q344.length === n, "one assignment row per vector")
    assert(q344.map(_.getLong(0)).distinct.length === n)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "cell", "vec_id", "rank", "adist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
    assert(key(VectorOps.q345ArtifactAdc(spark, dir)) ===
      key(VectorOps.q193IvfpqSearch(spark, dir)),
      "the persisted index must serve the same search results as the " +
        "in-session trained one")
  }

  test("ADC quality FLOOR (the round-17 verdict's q341 gate, anchored " +
      "where the signal is): in-cell agreement between ADC top-3 and the " +
      "exact top-3 stays >= 0.2, and trained distortion beats the seed " +
      "codebook on every (arm, subspace)") {
    // Why not a raw q341 recall floor: against the GLOBAL exact top-3 the
    // measured sf0.001 recall is 0.0556 (single-probe) / 0.0 (two-probe)
    // — the isotropic synthetic embeddings put 4-codeword quantization
    // distortion far above the tiny cosine gaps, so that number is noise
    // and a floor on it would either pin 0.0 or flap. The regression a
    // gate must catch is a BROKEN CODEBOOK, and that shows in (a) how
    // well ADC ranking agrees with exact ranking over the SAME candidate
    // set (q60's in-cell top-3; broken => ~random ≈ 3/|cell| ≈ 0.13),
    // and (b) quantization distortion (training strictly improves it).
    // Measured at HEAD (sf0.001, trained k=22, trained codebooks):
    // agreement 0.333; floor 0.2 sits 40% under, above the broken level.
    val exact = VectorOps.q60IvfAnn(spark, dir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = VectorOps.q193IvfpqSearch(spark, dir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val agreement = (exact & adc).size.toDouble / exact.size
    assert(agreement >= 0.2,
      s"ADC in-cell agreement crashed to $agreement (< 0.2): the PQ " +
        "codebooks have regressed toward noise")
    // distortion invariants (measured: trained 0.19-0.23 vs seed
    // 0.29-0.40; the 0.9 factor leaves headroom without letting a
    // no-op trainer pass)
    val d = VectorOps.q346PqDistortion(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(4))
      .toMap
    for (arm <- Seq("raw", "residual"); m <- 0L to 3L) {
      val seed = d((arm, "seed", m)); val trained = d((arm, "trained", m))
      assert(trained < 0.9 * seed,
        s"$arm subspace $m: trained distortion $trained not materially " +
          s"under seed $seed — Lloyd descent is broken")
    }
    for (m <- 0L to 3L)
      assert(d(("residual", "trained", m)) < d(("raw", "trained", m)),
        s"subspace $m: residual encoding must beat raw (it spends the " +
          "code budget on what the cell did not explain)")
  }

  test("q347 SQ8 eval: 8-bit-per-dim quantization is near-lossless on " +
      "this corpus (recall 1.0) while PQ's 4 codewords are noise-bound " +
      "— the compression/recall tradeoff the two evals price together") {
    val rows = VectorOps.q347Sq8Recall(spark, dir).collect()
    assert(rows.length === 6)
    // measured: recall 1.0 on every query at sf0.001/sf0.01 — SQ8 keeps
    // 8 bits per dimension, so 4dp cosine ranking is unperturbed; gate
    // at >= 0.9 mean so a quantizer bug (wrong span, off-by-one code)
    // turns red without pinning bit-exact ties
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(mean >= 0.9, s"SQ8 recall collapsed to $mean")
    assert(rows.forall(_.getLong(4) > 0L),
      "reconstruction error must be positive (quantization is lossy)")
  }

  test("q348 code usage: every corpus vector contributes exactly 4 " +
      "subspace codes per flavor and no codeword row is lost (dead " +
      "codewords would still appear with n_used = 0)") {
    val n = Tables.embeddings(spark, dir).count()
    val rows = VectorOps.q348CodeUsage(spark, dir).collect()
    assert(rows.length === 32, "2 flavors x 4 subspaces x 4 codewords")
    for (flavor <- Seq("raw", "residual")) {
      val f = rows.filter(_.getString(0) == flavor)
      assert(f.map(_.getLong(3)).sum === 4 * n,
        s"$flavor: every vector encodes once per subspace")
    }
  }

  test("q349 refresh drift: every vector is booked under both the " +
      "frozen and the fresh quantizer, the pre-growth vectors mostly " +
      "keep their seed lineage, and moved is a 0/1 flag") {
    val n = Tables.embeddings(spark, dir).count()
    val rows = VectorOps.q349RefreshDrift(spark, dir).collect()
    assert(rows.length === n)
    assert(rows.forall(r => r.getLong(3) == 0L || r.getLong(3) == 1L))
    val movedRate = rows.map(_.getLong(3)).sum.toDouble / n
    // 10% growth on an isotropic corpus: most vectors keep their cell
    // (measured ~0.1-0.3); a rate near 1.0 would mean the frozen chain
    // diverged from the trainer (wrong seed/rounding), not real drift
    assert(movedRate < 0.8, s"implausible moved rate $movedRate")
  }

  test("q350 kNN graph: at most 3 out-edges per vector with contiguous " +
      "ranks, and every edge stays inside one coarse cell (the build is " +
      "the capped cell equi-join, never all-pairs)") {
    val edges = VectorOps.q350KnnGraph(spark, dir).collect()
    val bySrc = edges.groupBy(_.getLong(0))
    assert(bySrc.forall(_._2.length <= 3))
    assert(bySrc.forall(g =>
      g._2.map(_.getLong(2)).sorted.sameElements(1L to g._2.length)))
    val base = Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cellOf = VectorOps.assignCells(base,
        VectorOps.coarseCentroids(spark, dir))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(edges.forall(r => cellOf(r.getLong(0)) == cellOf(r.getLong(1))),
      "graph edges must be cell-local (the cluster-routing contract)")
  }

  test("q351 cluster-routed beam search: FLOOR against the exact " +
      "in-cell top-3 (q60) — the graph refinement must recover most of " +
      "what the exact in-cell scan finds") {
    // Measured at HEAD (sf0.001): 12/18 = 0.667 of q60's rows recovered
    // by a 4-wide, 3-hop beam from the cell's md5-min member — well
    // above ADC's 0.333 on the same protocol. Floor 0.4 sits 40% under
    // the measurement; a broken graph (wrong edges, dead routing) lands
    // near the ~3/|cell| ≈ 0.13 random level.
    val exact = VectorOps.q60IvfAnn(spark, dir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val beam = VectorOps.q351GraphSearch(spark, dir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val agreement = (exact & beam).size.toDouble / exact.size
    assert(agreement >= 0.4,
      s"graph-search agreement with the exact in-cell top-3 crashed to " +
        s"$agreement (< 0.4)")
  }

  test("q352 graph recall: the oracled eval equals the spec's own " +
      "overlap computation (the 0.667 measurement is an ORACLED " +
      "output, not a one-off)") {
    val rows = VectorOps.q352GraphRecall(spark, dir).collect()
    assert(rows.length === 6)
    val meanRecall = rows.map(_.getDouble(3)).sum / rows.length
    assert(meanRecall >= 0.4,
      s"beam recall vs exact in-cell top-3 crashed to $meanRecall")
  }

  test("artifact round trip holds for a DIRECTORY-shaped corpus (Spark-" +
      "written parquet dir, not the testdata single file): fingerprint " +
      "walks the tree, build/load reproduce the trained centroids") {
    val tmp = freshTmp("ivfdir")
    try {
      val corpus = new java.io.File(tmp, "corpus"); corpus.mkdirs()
      // a Spark-WRITTEN embeddings table: part files + _SUCCESS marker
      Tables.embeddings(spark, dir).limit(120).repartition(3)
        .write.parquet(new java.io.File(corpus, "embeddings.parquet").getPath)
      val root = new java.io.File(tmp, "idx").getPath
      IvfIndex.build(spark, corpus.getPath, root)
      val loaded = IvfIndex.loadCentroidsAt(spark, corpus.getPath, root)
        .getOrElse(fail("dir-shaped corpus artifact did not load"))
      assert(loaded.toSeq ===
        VectorOps.coarseCentroids(spark, corpus.getPath).toSeq)
      // appending a part file to the table dir must invalidate
      Tables.embeddings(spark, dir).limit(7)
        .write.mode("append")
        .parquet(new java.io.File(corpus, "embeddings.parquet").getPath)
      assert(IvfIndex.loadCentroidsAt(spark, corpus.getPath, root).isEmpty,
        "an appended table must fingerprint as changed")
    } finally {
      VectorOps.clearIndexCaches() // the tmp-corpus entries die with the dir
      util.Fs.deleteRecursively(tmp)
    }
  }

  test("kcenterCoreset growth guard: k past the sequential-loop bound " +
      "fails loudly instead of degrading into corpus-scale driver trips") {
    val vecsDf = Seq((0L, Seq(0L, 0L)), (1L, Seq(1L, 1L)))
      .toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      VectorOps.kcenterCoreset(spark, vecsDf, k = 65)
    }
    assert(e.getMessage.contains("sequential greedy loop"))
    // the shipped k is untouched
    assert(VectorOps.q270KcenterCoreset(spark, dir).count() === 8L)
  }

  test("native function registration is idempotent per session: " +
      "re-registering neither fails nor re-binds (no registry WARN spam)") {
    val out = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)").as("c")).collect()
    assert(out.head.getDouble(0) === 1.0)
  }
}
