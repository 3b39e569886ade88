package graft

import graft.util.{Materialize, Session}

/** Internal-plan inspector: the committed plan evidence for operator
  * INTERNALS that the declared queries hide behind terminal checkpoints
  * (Explain prints a checkpointed query as one leaf scan). Each section
  * builds the operator's internal frame exactly the way the library
  * operator does and explains it.
  *
  * Usage: runMain graft.PlanDump <sfDir> [section...]
  * Sections: pq_encode
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    def want(n: String) = names.isEmpty || names.contains(n)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    if (want("ppjoin")) {
      // q170/q288's exact-similarity core over the prepared shingle frame
      import org.apache.spark.sql.functions._
      val shingles3 =
        "IF(size(toks) >= 3, transform(sequence(0, size(toks)-3), i -> " +
          "concat_ws(' ', toks[i], toks[i+1], toks[i+2])), " +
          "CAST(array() AS ARRAY<STRING>))"
      val td = graft.Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), expr(s"array_distinct($shingles3)").as("td"))
        .transform(Materialize.persist(_))
      td.count()
      println("\n========== ppjoin t=1/2 ==========")
      graft.operators.TextOps.prefixJaccardPairs(td, 1, 2).explain("formatted")
    }

    if (want("bitext_margin")) {
      // The r19 window-order change in bitextMarginPairs: both ranks are
      // pure functions of the pair frame, but the LAST window leaves the
      // frame partitioned by ITS key. Downstream (top-4 agg + reciprocal
      // join) keys on src_id, so rs-last removes one full exchange of
      // the corpus-sized pair frame. Both orders printed for the diff.
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val lang = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = operators.VectorOps.vecs(spark, sfDir).join(lang, "vec_id")
      val a = e.filter(col("lang") === "en")
        .select(col("vec_id").as("src_id"), col("v").as("va"))
      val b = e.filter(col("lang") === "de")
        .select(col("vec_id").as("tgt_id"), col("v").as("vb"))
      val pairs = a.crossJoin(broadcast(b))
        .withColumn("cm", round(round(
          graft.functions.CosineSimilarity(col("va"), col("vb")), 6) * 1e6)
          .cast("long"))
        .select(col("src_id"), col("tgt_id"), col("cm"))
      val ws = Window.partitionBy(col("src_id"))
        .orderBy(col("cm").desc, col("tgt_id").asc)
      val wt = Window.partitionBy(col("tgt_id"))
        .orderBy(col("cm").desc, col("src_id").asc)
      def tail(ranked: org.apache.spark.sql.DataFrame) = {
        val top4 = ranked.filter(col("rs") <= 4)
          .groupBy(col("src_id"))
          .agg(sum(col("cm")).as("scm"), count(lit(1)).as("k4"))
        ranked.filter(col("rs") === 1 && col("rt") === 1)
          .join(top4, "src_id")
          .select(col("src_id"), col("tgt_id"), col("scm"), col("k4"))
      }
      println("\n========== bitext_margin BEFORE (rs then rt) ==========")
      tail(pairs.withColumn("rs", row_number().over(ws))
        .withColumn("rt", row_number().over(wt))).explain("formatted")
      println("\n========== bitext_margin AFTER (rt then rs) ==========")
      tail(pairs.withColumn("rt", row_number().over(wt))
        .withColumn("rs", row_number().over(ws))).explain("formatted")
    }

    if (want("kcore_round")) {
      // one kCore peeling round exactly as RdfOps.kCore builds it (m is
      // the materializing count's exact edge total; the round hints
      // broadcast when m ≤ Closure.BroadcastMaxRows — this dump is the
      // hint evidence)
      import org.apache.spark.sql.functions._
      val edges0 = graft.Tables.lineitem(spark, sfDir)
        .select(concat(lit("P"), col("l_partkey").cast("string")).as("src"),
          concat(lit("S"), col("l_suppkey").cast("string")).as("dst"))
        .distinct()
      val edges = edges0
        .unionByName(edges0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().transform(Materialize.localCheckpoint(_))
      val m = edges.count()
      println(s"\n========== kcore_round (m=$m) ==========")
      operators.RdfOps.kCorePrune(edges, m, 4).explain("formatted")
    }

    if (want("q352_internal")) {
      // q352's shared-scan composition: ONE top2Cells InMemoryRelation
      // feeds the graph build, both arms' assignment, and the beam's
      // vector lookups (the plan shows a single cached scan, where the
      // r18 composition assigned the corpus three times)
      import org.apache.spark.sql.functions._
      val ops = operators.VectorOps
      val t2p = Materialize.persist(ops.top2CellsFor(spark, sfDir))
      t2p.count()
      val assigned = t2p.select(col("vec_id"), col("v"), col("c1").as("cell"))
      val edges = ops.knnGraphEdgesFrom(t2p, 3)
        .select(col("src_id"), col("tgt_id"))
      val exact = ops.ivfAnnFrom(assigned).select(col("q_id"), col("vec_id"))
      val beam = ops.graphSearchFrom(assigned, edges)
        .select(col("q_id"), col("vec_id"), lit(1L).as("__hit"))
      println("\n========== q352_internal ==========")
      exact.join(beam, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k")).explain("formatted")
    }

    if (want("pq_encode")) {
      // the corpus encode every ADC consumer (q193/q340/q341/q342/q343/
      // q345/q348, streaming index sink) runs once per flavor
      val e = operators.VectorOps.vecs(spark, sfDir)
      val cents = operators.VectorOps.coarseCentroids(spark, sfDir)
      val assigned = operators.VectorOps.assignCells(e, cents)
      val cbs = operators.VectorOps.pqCodebooksFor(spark, sfDir,
        residual = false)(operators.VectorOps.trainPqCodebooks(assigned))
      println("\n========== pq_encode ==========")
      operators.VectorOps.pqEncode(assigned, cbs).explain("formatted")
    }

    spark.stop()
  }
}
