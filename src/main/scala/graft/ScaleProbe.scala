package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Session

/** Scale probe above the shipped sf0.1 (round-14 verdict task 7): the
  * 100 TB posture claims are plan-audited at sf0.1 but the plans never
  * EXECUTE above 600k rows in this environment — this main synthesizes
  * an N× corpus in /tmp (never touching the read-only testdata) and
  * times the slow-tail queries at 1× and N× in the SAME JVM, so the
  * ratio table is free of cross-JVM noise and a plan that flips to a
  * pathological shape under AQE at the larger size shows up as a
  * superlinear ratio.
  *
  * Replica construction is deliberately DISSIMILAR across replicas —
  * naive row duplication would grow near-dup/LSH pair counts
  * quadratically in the multiplier and measure a data artifact, not the
  * engine:
  *  - documents: non-stopword tokens get a per-replica suffix (vocab
  *    grows ~N×, shingles diverge, quality ratios preserved because the
  *    stopword tokens stay verbatim), n_chars recomputed;
  *  - embeddings: per-replica cyclic rotation of the vector (norms and
  *    marginal distributions preserved, cross-replica cosine
  *    decorrelated);
  *  - events: ids/users offset per replica, props suffixed (aHash
  *    re-tiles, so media near-dup clusters stay replica-local).
  *
  * Usage: runMain graft.ScaleProbe [srcSfDir] [outDir] [mult] [q...]
  * Prints one JSON line: per-query 1× and N× seconds + the ratio. */
object ScaleProbe {

  /** Slow-tail defaults (BENCH_r14 descending): every query here reads
    * only the scaled tables (documents/embeddings/events). q16 (3.50 s,
    * TPC-H-derived triples) and q249 (HITS over the customer/supplier/
    * nation entity graph) are excluded — [[multiply]] copies their inputs
    * through unscaled, so every rung would time the same graph. */
  val defaultQueries: Seq[String] = Seq(
    "q288_lsh_pr_eval", "q279_triplet_mining", "q201_bloom_decontaminate",
    "q200_containment_join", "q281_survivorship", "q275_group_kfold",
    "q256_kcore", "q193_ivfpq_search", "q212_deletion_propagation",
    "q203_media_clusters")

  def multiply(spark: SparkSession, src: String, out: String,
               mult: Int): Unit = {
    def reps(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(r => if (r == 0) df else f(df, r))
        .reduce(_ unionByName _)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    reps(docs) { (d, r) =>
      d.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
        // suffix every non-stopword token: replicas share no shingles
        // (no cross-replica near-dups) while n_tokens and the stopword
        // counts — the quality signals — stay identical
        .withColumn("text", regexp_replace(col("text"),
          "\\b(?!(?:the|a|of|and)\\b)(\\S+)", s"$$1z$r"))
        .withColumn("n_chars", length(col("text")))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    reps(emb) { (d, r) =>
      val k = r % 8 + 1
      d.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
        .withColumn("embedding", expr(
          s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), " +
            s"slice(embedding, 1, $k))"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    val ev = spark.read.parquet(s"$src/events.parquet")
    reps(ev) { (d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * 10000000L))
        .withColumn("user_id", col("user_id") + lit(r * 1000000L))
        .withColumn("props", concat(col("props"), lit(s" zr$r")))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/events.parquet")

    // unscaled dimension tables copy through so Tables.* resolves
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft-scale10"
    val mult = if (args.length > 2) args(2).toInt else 10
    val wanted = if (args.length > 3) args.drop(3).toSeq else defaultQueries
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      System.err.println(s"[scale] generating ${mult}x corpus at $out")
      multiply(spark, src, out, mult)
    } else System.err.println(s"[scale] reusing $out")

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.exists(n.contains) }
    def time(dir: String, name: String,
             fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = graft.util.Watchdog.run(spark.sparkContext, name, 900L) {
        fn(spark, dir).count()
      }.isRight
      // clock stops BEFORE cache teardown: clearCache cost grows with
      // the N× input for persist()ing queries, and billing it to the
      // query would bias exactly the N×/1× ratio this probe reports
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) sec else -math.max(sec, 0.01)
    }
    // The trained coarse quantizer is an INDEX ARTIFACT (built once per
    // corpus, offline, like the corpus files themselves) — pre-build it
    // for both rungs so its one-time cost lands here, visibly, instead
    // of inside whichever IVF query happens to run first at N×; the
    // build seconds print with the probe line.
    def trainSec(dir: String): Double = {
      val t0 = System.nanoTime()
      operators.VectorOps.coarseCentroids(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val (train1, trainN) = (trainSec(src), trainSec(out))
    System.err.println(f"[scale] quantizer build: 1x=$train1%.2fs Nx=$trainN%.2fs")
    // PQ codebooks get the same index-artifact treatment (round 18): the
    // memoized trainer runs once per (corpus, flavor) here, visibly,
    // instead of inside whichever ADC query runs first at N×.
    def pqSec(dir: String): Double = {
      val t0 = System.nanoTime()
      operators.VectorOps.pqCodebookRows(spark, dir, residual = false)
      operators.VectorOps.pqCodebookRows(spark, dir, residual = true)
      (System.nanoTime() - t0) / 1e9
    }
    val (pq1, pqN) = (pqSec(src), pqSec(out))
    System.err.println(f"[scale] pq codebook build (raw+residual): " +
      f"1x=$pq1%.2fs Nx=$pqN%.2fs")
    // cell-occupancy census per rung (round-17 verdict: the join profile
    // of the IVF family is the occupancy distribution — record it with
    // the ratios): k cells, min/median/max members, top-3 cells
    def occStats(dir: String): String = {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val occ = operators.VectorOps
        .assignCells(e, operators.VectorOps.coarseCentroids(spark, dir))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .collect().map(_.getLong(1)).sorted
      if (occ.isEmpty) "k=0"
      else s"k=${occ.length} min=${occ.head} p50=${occ(occ.length / 2)} " +
        s"max=${occ.last} top3=${occ.takeRight(3).mkString(",")}"
    }
    System.err.println(s"[scale] occupancy 1x: ${occStats(src)}")
    System.err.println(s"[scale] occupancy Nx: ${occStats(out)}")
    // 1x warm pass (absorbs per-shape codegen), then the timed pairs
    qs.foreach { case (n, f) => time(src, n, f) }
    val results = qs.map { case (n, f) =>
      val base = time(src, n, f)
      val big = time(out, n, f)
      (n, base, big)
    }
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val body = results.map { case (n, b, g) =>
      val ratio = if (b > 0 && g > 0) fmt(g / b) else "null"
      s""""$n":{"sf1":${fmt(b)},"sfN":${fmt(g)},"ratio":$ratio}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","mult":$mult,"src":"$src","out":"$out","quantizer_build_sec":{"sf1":${fmt(train1)},"sfN":${fmt(trainN)}},"pq_build_sec":{"sf1":${fmt(pq1)},"sfN":${fmt(pqN)}},"queries":$body}""")
    spark.stop()
  }
}
