package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** q140 quality rules and q141 incremental dedup — rule-level assertions
  * the hash oracle can't express (WHICH rule fired, split disjointness). */
class CorpusOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q140: every rule flag matches a direct recount on a sample doc") {
    val spark2 = spark
    import spark2.implicits._
    val rows = operators.TextOps.q140QualityRules(spark, dir)
      .orderBy("doc_id").limit(5).collect()
    val texts = Tables.documents(spark, dir)
      .orderBy("doc_id").limit(5)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    rows.foreach { r =>
      val toks = texts(r.getLong(0)).split(" ").toSeq
      val n = toks.size.toLong
      assert(r.getLong(1) === n)
      assert(r.getBoolean(2) === (n >= 30 && n <= 100000), "ok_count")
      val sumLen = toks.map(_.length.toLong).sum
      assert(r.getBoolean(3) === (sumLen >= 3 * n && sumLen <= 10 * n), "ok_word_len")
      val stops = toks.toSet.intersect(Set("the", "a", "of", "to", "and"))
      assert(r.getBoolean(4) === (stops.size >= 2), "ok_stopwords")
      val maxCount = toks.groupBy(identity).values.map(_.size).max.toLong
      assert(r.getBoolean(5) === (5 * maxCount <= n), "ok_max_share")
      val distinct = toks.distinct.size.toLong
      assert(r.getBoolean(6) === (10 * distinct >= 3 * n), "ok_ttr")
      assert(r.getBoolean(7) ===
        (r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4) &&
          r.getBoolean(5) && r.getBoolean(6)), "keep = AND of flags")
    }
  }

  test("q140: integer rule arithmetic — no float ratio in the plan") {
    // The bit-exactness claim rests on every rule being an integer
    // comparison; a Cast to double/float anywhere in the rule columns
    // would silently reintroduce ulp drift.
    val plan = operators.TextOps.q140QualityRules(spark, dir)
      .queryExecution.analyzed.toString
    assert(!plan.toLowerCase.contains("as double"), plan)
  }

  test("q141: output is exactly the batch slice, flags imply admit") {
    val out = operators.TextOps.q141IncrementalDedup(spark, dir).collect()
    val bucketOf = (id: Long) => {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(bucketOf(r.getLong(0)) >= 90, s"doc ${r.getLong(0)} not in batch")
      assert(r.getBoolean(3) === (!r.getBoolean(1) && !r.getBoolean(2)))
    }
  }

  test("q141: literal copy of an index doc is rejected on both checks; " +
      "a fresh doc is admitted") {
    val spark2 = spark
    import spark2.implicits._
    val bucketOf = (id: Long) => {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val idxId   = (0L to 200L).find(bucketOf(_) < 90).get
    val batchIds = (0L to 500L).filter(bucketOf(_) >= 90).take(2)
    val copyText  = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val freshText = "one two three four five six seven eight nine ten eleven"
    val tmp = java.nio.file.Files.createTempDirectory("graft-q141").toString
    Seq(
      (idxId, copyText, "en", "srcA", copyText.length.toLong),
      (batchIds(0), copyText, "en", "srcB", copyText.length.toLong),
      (batchIds(1), freshText, "en", "srcB", freshText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.TextOps.q141IncrementalDedup(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    // The literal copy: same content key AND same minhash signature.
    assert(out(batchIds(0)) === ((true, true, false)))
    // The fresh doc shares no key and no band with the one index doc.
    assert(out(batchIds(1)) === ((false, false, true)))
    assert(!out.contains(idxId), "index docs must not appear in the report")
  }

  test("q143: verified pairs are a subset of the LSH candidates, jac in [0.5, 1]") {
    val cand = operators.TextOps.q34MinhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = operators.TextOps.q143CandidateVerify(spark, dir).collect()
    assert(verified.nonEmpty, "the synthetic corpus plants near-dups")
    verified.foreach { r =>
      assert(cand.contains((r.getLong(0), r.getLong(1))), s"not a candidate: $r")
      val j = r.getDouble(2)
      assert(j >= 0.5 && j <= 1.0, s"jac out of range: $j")
    }
    assert(verified.length <= cand.size)
  }

  test("minhash_sigs: native fused loop ≡ the HOF hex formulation") {
    val df = Tables.documents(spark, dir).limit(50)
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        "IF(size(toks) >= 3, transform(sequence(0, size(toks)-3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])), " +
          "CAST(array() AS ARRAY<STRING>)) AS shingles")
      .selectExpr("doc_id", "minhash_sigs(shingles) AS native",
        "transform(transform(shingles, s -> md5(s)), h -> named_struct(" +
          "'a', CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT), " +
          "'b', CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT))) AS hp")
    val both = (0 until 8).foldLeft(df) { (d, i) =>
      d.withColumn(s"hof$i",
        expr(s"array_min(transform(hp, p -> (p.a + $i * p.b) % 4294967296))"))
    }
    both.collect().foreach { r =>
      val native = r.getSeq[Long](r.fieldIndex("native"))
      (0 until 8).foreach { i =>
        assert(native(i) === r.getLong(r.fieldIndex(s"hof$i")),
          s"doc ${r.getLong(0)} perm $i")
      }
    }
    // empty shingle array → NULL signature (never buckets)
    val empty = spark.sql(
      "SELECT minhash_sigs(CAST(array() AS ARRAY<STRING>)) AS s")
    assert(empty.collect()(0).isNullAt(0))
  }

  test("q144: the AND column is bounded by every mask, masks by n_in") {
    val rows = operators.TextOps.q144CorpusFunnel(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nIn, nQ, nE, nC, nF) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nF <= math.min(nQ, math.min(nE, nC)))
      assert(Seq(nQ, nE, nC).forall(_ <= nIn))
    }
  }

  test("q146: the kept set is pairwise below the dedup threshold per cell") {
    // The triangular mask drops b whenever ANY earlier member (kept or
    // dropped) reaches tau, so two kept members can never both survive a
    // >= tau pair — recompute all kept-kept cosines on the driver.
    val out = operators.VectorOps.q146SemanticDedup(spark, dir).collect()
    assert(out.length === 500 && out.exists(!_.getBoolean(4)),
      "threshold should fire on this corpus")
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.filter(_.getBoolean(4)).groupBy(_.getLong(1)).foreach {
      case (cell, members) =>
        val ids = members.map(_.getLong(0))
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          assert(cos(vecs(ids(i)), vecs(ids(j))) < 0.38,
            s"kept pair ${ids(i)},${ids(j)} in cell $cell at/above tau")
    }
    // the most-diverse member of every cell (pos 1: min centroid cosine,
    // doc_id tiebreak) has no earlier member and must always survive
    out.groupBy(_.getLong(1)).foreach { case (_, members) =>
      val first = members.minBy(r => (r.getDouble(2), r.getLong(0)))
      assert(first.getBoolean(4), s"pos-1 member ${first.getLong(0)} dropped")
      assert(first.isNullAt(3), "pos-1 member has no prior similarity")
    }
  }

  test("q150: negatives never share the query label and are the true top-3") {
    val rows = operators.VectorOps.q150HardNegatives(spark, dir).collect()
    assert(rows.length === 15, "5 queries x top-3")
    rows.foreach { r =>
      assert(r.getInt(1) !== r.getInt(3), "a negative with the query label")
      assert(r.getLong(4) >= 1 && r.getLong(4) <= 3)
    }
    // driver recount for query 0: its best different-label cosine must
    // equal the rank-1 row's
    val all = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) v",
        "label")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getInt(2)))
    val (qid, qv, qlab) = all.find(_._1 == 0L).get
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val best = all.filter(e => e._1 != qid && e._3 != qlab)
      .map(e => cos(qv, e._2)).max
    val rank1 = rows.filter(r => r.getLong(0) == 0L && r.getLong(4) == 1L)
    assert(rank1.length == 1 && rank1(0).getDouble(5) == best)
  }

  test("q151: one representative per component, and it is the best-quality member") {
    val rows = operators.TextOps.q151ComponentRepresentative(spark, dir)
      .collect()
    assert(rows.length === 500)
    rows.groupBy(_.getLong(1)).foreach { case (comp, members) =>
      val kept = members.filter(_.getBoolean(3))
      assert(kept.length === 1, s"component $comp keeps ${kept.length}")
      val best = members.map(_.getDouble(2)).max
      assert(kept(0).getDouble(2) === best,
        s"component $comp kept a sub-max-quality member")
      // deterministic tiebreak: of the max-quality members, the min id
      val tied = members.filter(_.getDouble(2) == best).map(_.getLong(0)).min
      assert(kept(0).getLong(0) === tied)
    }
  }

  test("q152: surprisal is a true per-token unigram mean (driver recount)") {
    val out = operators.TextOps.q152UnigramSurprisal(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 500)
    val texts = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val cf = texts.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val total = texts.values.map(_.size).sum.toDouble
    texts.take(10).foreach { case (id, toks) =>
      val expect = BigDecimal(
        toks.map(w => -math.log(cf(w) / total)).sum / toks.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(id).getLong(1) === toks.size.toLong)
      assert(math.abs(out(id).getDouble(2) - expect) <= 1e-4,
        s"doc $id: ${out(id).getDouble(2)} vs $expect")
    }
  }

  test("q153: consistency rates are well-formed and cover every query") {
    val rows = operators.VectorOps.q153KnnConsistency(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum === 100L, "every query voted once")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - r.getLong(2).toDouble / r.getLong(1)) < 1e-4)
    }
  }

  test("q154: island runs equal a direct longest-common-substring DP") {
    val rows = operators.TextOps.q154LongestRun(spark, dir).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    def lcsRun(a: Array[String], b: Array[String]): Long = {
      // classic O(n*m) DP over token arrays
      var best = 0
      val prev = new Array[Int](b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        for (j <- 1 to b.length) {
          cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1 else 0
          if (cur(j) > best) best = cur(j)
        }
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      best.toLong
    }
    rows.foreach { r =>
      val (da, db) = (r.getLong(0), r.getLong(1))
      val expect = lcsRun(texts(da), texts(db))
      assert(r.getLong(2) === expect, s"pair ($da,$db)")
      val share = BigDecimal(expect.toDouble /
          math.min(texts(da).length, texts(db).length))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === share)
    }
  }

  test("q156: bigram surprisal matches a driver recount of conditional -ln p") {
    val out = operators.TextOps.q156BigramSurprisal(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 500)
    val texts = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val bigrams = texts.values.flatMap(t => t.sliding(2).map(p => (p(0), p(1)))).toSeq
    val cbg = bigrams.groupBy(identity).view.mapValues(_.size).toMap
    val cpre = bigrams.groupBy(_._1).view.mapValues(_.size).toMap
    texts.take(10).foreach { case (id, toks) =>
      val terms = toks.sliding(2).map { p =>
        -math.log(cbg((p(0), p(1))).toDouble / cpre(p(0)))
      }.toSeq
      val expect = BigDecimal(terms.sum / terms.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(id).getLong(1) === toks.size.toLong - 1)
      assert(math.abs(out(id).getDouble(2) - expect) <= 1e-4,
        s"doc $id: ${out(id).getDouble(2)} vs $expect")
    }
  }

  test("q147: per-source keeps are a prefix of the quality ordering") {
    val rows = operators.TextOps.q147QualityCalibration(spark, dir).collect()
    assert(rows.length === 500)
    rows.groupBy(_.getString(1)).foreach { case (src, members) =>
      val ordered = members.sortBy(r => (-r.getDouble(2), r.getLong(0)))
      val kept = ordered.takeWhile(_.getBoolean(4))
      assert(ordered.drop(kept.length).forall(!_.getBoolean(4)),
        s"$src: kept set is not a prefix of (quality desc, doc_id) order")
      // percent_rank < 0.5 keeps exactly floor(n/2) of n ranked docs
      assert(kept.length === members.length / 2,
        s"$src: expected ${members.length / 2} kept, got ${kept.length}")
    }
  }

  test("q176/q177: hash sampling is deterministic, nested under rate bumps, " +
      "and the reservoir matches the window formulation") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    // determinism: two evaluations give identical row sets
    val s1 = graft.operators.TextOps.q176StratifiedSample(spark, dir)
      .collect().map(_.toSeq).toSet
    val s2 = graft.operators.TextOps.q176StratifiedSample(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(s1 == s2 && s1.nonEmpty)
    // nested-sample property: the kept set at ANY rate is a superset of
    // the kept set at a lower rate (the bucket of a doc never moves) —
    // recompute with the universal rate pair (5, 50) directly
    val d = graft.Tables.documents(spark, dir)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    val at5 = d.filter(bucket < 5).select("doc_id").collect().map(_.getLong(0)).toSet
    val at50 = d.filter(bucket < 50).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(at5.subsetOf(at50) && at5.nonEmpty && at5.size < at50.size)
    // reservoir ≡ window top-k per source
    val res = graft.operators.TextOps.q177ReservoirPerSource(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val win = d.select(col("source"), col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")))).as("rn"))
      .filter(col("rn") <= 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(res == win && res.size == win.size)
  }

  test("q193: IVF-PQ search prunes to the query's cell and ADC ranks are total") {
    import org.apache.spark.sql.functions._
    val out = operators.VectorOps.q193IvfpqSearch(spark, dir)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 6 * 3)
    // every query returns ranks 1..k with strictly ordered (adist, vec_id)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      val keys = sorted.map(r => (r.getDouble(4), r.getLong(2)))
      assert(keys.toSeq == keys.sortBy(identity).toSeq, s"query $q not ADC-ordered")
    }
    // IVF pruning: each returned candidate lives in its query's cell
    val e = graft.Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    // cell reference via the broadcast-score + window formulation over
    // the TRAINED centroids (round 17) — a different plan shape than the
    // query's zero-shuffle literal argmax, same assignment
    val cells = {
      val s2 = spark
      import s2.implicits._
      val cents = operators.VectorOps.trainCentroids(e)
        .toSeq.toDF("cent_id", "cv")
      e.crossJoin(broadcast(cents))
        .withColumn("ccos",
          round(graft.functions.CosineSimilarity(col("v"), col("cv")), 6))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
            .orderBy(col("ccos").desc, col("cent_id").asc)))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cent_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    rows.foreach { r =>
      val (q, cell, cand) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(cells(q) == cell && cells(cand) == cell,
        s"candidate $cand of query $q crosses cells")
    }
  }

  test("q201: the Bloom layer is transparent — exact hits equal q116") {
    val bloomed = graft.operators.TextOps.q201BloomDecontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = graft.operators.TextOps.q116Decontaminate(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every q116 hit appears with the same exact count (no false
    // negatives — a Bloom filter can only over-approximate)
    assert(exact.nonEmpty)
    val hitsOf = bloomed.map(t => t._1 -> t._3).toMap
    exact.foreach { case (id, n) =>
      assert(hitsOf.get(id).contains(n), s"doc $id: ${hitsOf.get(id)} vs $n")
    }
    // candidates bound hits; docs present only via false positives
    // report n_hits = 0
    bloomed.foreach { case (id, cand, hits) =>
      assert(cand >= hits && cand >= 1)
      if (!exact.contains(id)) assert(hits == 0L)
    }
  }

  test("q200: containment catches a short doc embedded in a long one " +
      "that Jaccard misses") {
    val spark2 = spark
    import spark2.implicits._
    // doc 1: a 200-token passage (~12 expected CDC boundaries → ~11
    // interior chunks). doc 2: 600 fresh tokens with the passage
    // embedded in the middle — Jaccard ≈ 198/800 ≈ 0.25 < 0.5, but
    // containment of doc 1 in doc 2 = 1.0.
    val passage = (0 until 200).map(i => s"e${i % 11}w$i").mkString(" ")
    val filler1 = (0 until 300).map(i => s"x${i % 17}a$i").mkString(" ")
    val filler2 = (0 until 300).map(i => s"y${i % 19}b$i").mkString(" ")
    val d = Seq(
      (1L, passage),
      (2L, s"$filler1 $passage $filler2"),
      (3L, (0 until 60).map(i => s"z${i % 7}c$i").mkString(" "))
    ).toDF("doc_id", "text").withColumn("toks", split(col("text"), " "))
    // candidate generation: the embedded copy re-aligns CDC chunks
    val ch = operators.TextOps.cdcChunks(d.select(col("doc_id"), col("toks")))
      .select(col("doc_id"), md5(col("chunk")).as("chash")).distinct()
    val shared = ch.as("a").join(ch.as("b"),
        col("a.chash") === col("b.chash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shared.contains((1L, 2L)),
      s"embedded passage produced no shared chunk: $shared")
    assert(!shared.exists(p => p._1 == 3L || p._2 == 3L))
    // exact containment verify over the candidate pair
    val sd = d.select(col("doc_id"), expr("array_distinct(IF(size(toks) >= 3, " +
        "transform(sequence(0, size(toks)-3), " +
        "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])), " +
        "CAST(array() AS ARRAY<STRING>)))").as("sd"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val inter = sd(1L).intersect(sd(2L)).size
    assert(inter.toDouble / math.min(sd(1L).size, sd(2L).size) >= 0.9,
      "containment of the embedded passage should be ~1")
    assert(inter.toDouble / sd(1L).union(sd(2L)).size < 0.5,
      "fixture error: Jaccard should be low, or the test proves nothing")
  }

  test("q198: PageRank top-20 is totally ordered and sinks outrank sources") {
    val full = graft.operators.RdfOps.q198Pagerank(spark, dir)
    val rows = full.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.length == 20)
    // ranks are positive and the cut is ordered under (pr desc, node)
    assert(rows.forall(_._2 > 0))
    val keys = rows.map { case (n, p) => (-p, n) }
    assert(keys.toSeq == keys.sortBy(identity).toSeq)
    // structural sanity: every top rank is a region or nation (all mass
    // flows C/S → N → R; customers/suppliers only hold teleport mass)
    assert(rows.forall { case (node, _) =>
      node.startsWith("R") || node.startsWith("N") },
      s"non-sink in top-20: ${rows.filterNot(r =>
        r._1.startsWith("R") || r._1.startsWith("N")).take(3)}")
    // regions (terminal sinks) hold the highest ranks
    assert(rows.take(3).forall(_._1.startsWith("R")))
  }

  test("q194: per-source KL is non-negative and near-zero for a " +
      "corpus-distributed source") {
    val rows = operators.TextOps.q194SourceKlDrift(spark, dir).collect()
    assert(rows.length === 20)
    // Gibbs: KL(p‖q) >= 0 for proper distributions over one support;
    // per-term 1e-8 rounding can push the sum at most 256e-8 under 0
    rows.foreach { r =>
      assert(r.getDouble(2) >= -0.001,
        s"${r.getString(0)}: negative KL ${r.getDouble(2)}")
      assert(r.getLong(1) > 0)
    }
  }

  test("q195: CDC chunks reassemble their doc and survive a front insertion") {
    val spark2 = spark
    import spark2.implicits._
    val base = (0 until 200).map(i => s"w${i % 37}tok$i")
    val shifted = Seq("inserted", "prefix", "sentence") ++ base
    val d = Seq((1L, base), (2L, shifted)).toDF("doc_id", "toks")
    val chunks = operators.TextOps.cdcChunks(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // chunks reassemble the original token stream in chunk order
    val re1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3).mkString(" ")
    assert(re1 == base.mkString(" "))
    // insertion-robustness: the tail chunks realign — every doc-1 chunk
    // after the insertion's blast radius reappears verbatim in doc 2
    // (fixed-width chunking would shift ALL of them)
    val c1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    val c2 = chunks.filter(_._1 == 2L).map(_._3).toSet
    assert(c1.length >= 5, s"chunker degenerated: ${c1.length} chunks")
    val shared = c1.drop(1).count(c2.contains)
    assert(shared >= c1.length - 2,
      s"only $shared of ${c1.length - 1} tail chunks survived the insertion")
  }

  test("q196: the weighted reservoir matches the window formulation and " +
      "is size-biased") {
    import org.apache.spark.sql.functions._
    val res = operators.TextOps.q196WeightedReservoir(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val d = graft.Tables.documents(spark, dir)
      .withColumn("u",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") + 1) / lit(4294967297L))
      .withColumn("kk",
        round((-log(col("u")) / col("n_chars")) * 1e8).cast("long"))
    val win = d.select(col("source"), col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("kk"), col("doc_id"))).as("rn"))
      .filter(col("rn") <= 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(res == win)
    // size bias: sampled docs are longer on average than their sources
    // (weight = n_chars; with 5-of-25 draws per source this holds with
    // overwhelming margin on the fixture)
    val lens = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampledMean = res.toSeq.map(p => lens(p._2)).sum.toDouble / res.size
    val corpusMean = lens.values.sum.toDouble / lens.size
    assert(sampledMean > corpusMean,
      s"no size bias: sampled $sampledMean vs corpus $corpusMean")
  }

  test("q192: DSIR weights match an independent driver-side reimplementation") {
    val out = operators.TextOps.q192DsirResample(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.length === 50)
    // independent reimplementation: plain Scala, JDK md5, BigDecimal
    // rounding — shares no code with the operator
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(ng: String): Long = {
      val hex = md.digest(ng.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16) % 512
    }
    def r(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docRows = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(row => (row.getLong(0), row.getString(1),
        row.getString(2).split(" ").toSeq))
    def ngrams(toks: Seq[String]): Seq[String] =
      toks ++ toks.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    val raw = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val tgt = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val profs = docRows.map { case (id, src, toks) =>
      val bs = ngrams(toks).map(bucket)
      bs.foreach { b => raw(b) += 1; if (src == "src0") tgt(b) += 1 }
      id -> bs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val (rtot, ttot) = (raw.values.sum.toDouble, tgt.values.sum.toDouble)
    val lr = raw.keys.map(b => b -> r(
      math.log((tgt(b) + 1) / (ttot + 512)) -
        math.log((raw(b) + 1) / (rtot + 512)), 6)).toMap
    val expect = profs.map { case (id, prof) =>
      (id, r(prof.map { case (b, c) => c * lr(b) }.sum, 4))
    }.sortBy { case (id, w) => (-w, id) }.take(50).toSeq
    assert(out == expect, s"mismatch:\n got  ${out.take(5)}\n want ${expect.take(5)}")
  }

  test("q34 bucket cap: a 10k-doc boilerplate mega-bucket diverts to the " +
      "exact verifier — candidates bounded, recall preserved") {
    val spark2 = spark
    import spark2.implicits._
    // Adversarial corpus: 10,000 docs sharing a 10-token boilerplate
    // prefix, each with a 30-token unique tail (true shingle Jaccard
    // between distinct docs ≈ 8/68 < 0.5). Docs 0..9 form 5 planted
    // identical pairs (2k, 2k+1) — the only true near-dups.
    val boiler = (0 until 10).map(i => s"b$i").mkString(" ")
    val adv = spark.range(10000).select(col("id").as("doc_id"),
        concat(lit(boiler + " "),
          concat_ws(" ", (0 until 30).map(j =>
            concat(lit(s"u${j}x"), (col("id") - col("id") % 2).cast("string"))): _*))
          .as("text"))
      .withColumn("text", when(col("doc_id") >= 10,
        concat(lit(boiler + " "),
          concat_ws(" ", (0 until 30).map(j =>
            concat(lit(s"u${j}x"), col("doc_id").cast("string"))): _*)))
        .otherwise(col("text")))
      .withColumn("toks", split(col("text"), " "))
    // The attack is real: at least one band bucket holds >= cap members
    // (every doc whose band minima both land on boilerplate shingles
    // shares the identical global-min band key).
    val cap = 50
    val sizes = operators.TextOps.minhashBands(adv)
      .filter(col("bkey").isNotNull)
      .groupBy("band", "bkey").count()
    assert(sizes.agg(max("count")).head.getLong(0) >= cap,
      "adversarial fixture failed to build a mega-bucket")
    val pairs = operators.TextOps.lshPairsCapped(adv, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Recall: all 5 planted pairs survive (identical docs share every
    // band key, so they are either in the same small bucket or both
    // diverted — the exact path verifies them at Jaccard 1).
    val planted = (0 until 5).map(k => (2L * k, 2L * k + 1)).toSet
    assert(planted.subsetOf(pairs), s"lost planted pairs: ${planted -- pairs}")
    // Bound: the mega-bucket's ~B²/2 false candidates never materialize.
    // ~440 docs per band share the global-min key, so the uncapped join
    // would emit ~4·440²/2 ≈ 390k pairs; capped output is the planted
    // pairs plus at most a handful of genuine small-bucket LSH collisions
    // (32-bit minhash birthday pairs — the uncapped join emits those too).
    assert(pairs.size <= 50,
      s"candidate bound violated: ${pairs.size} pairs, e.g. ${(pairs -- planted).take(10)}")
  }

  test("BPE apply semantics: priority order, exhaustive per rule, " +
      "adjacent runs, no prefix false-fires, no cross-token merges") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val m = Seq(("t", "h"), ("th", "e"), ("e", "r"))
    val got = Seq("the", "ther", "thth", "er the", "tether", "xyz")
      .toDF("text")
      .select(col("text"), operators.TextOps.bpeEncoded(col("text"), m).as("e"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("the") == "{the}")          // chained merges t+h, th+e
    assert(got("ther") == "{the}{r}")      // (th,e) outranks (e,r)
    assert(got("thth") == "{th}{th}")      // adjacent run merges both
    assert(got("er the") == "{er}{ }{the}".replace("{ }", " "))
    // t,e,t,h,e,r: (t,h) fires mid-word, then th+e, leaving {t}{e}{the}{r}
    assert(got("tether") == "{t}{e}{the}{r}")
    assert(got("xyz") == "{x}{y}{z}")      // no rule applies
  }

  test("q207/q208 conservation laws: first-occurrence rewrite keeps " +
      "exactly one copy per distinct chunk; context windows partition " +
      "the token stream exactly") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val rewrite = operators.TextOps.q207ChunkDedupRewrite(spark, sfDir)
    val totalKept = rewrite.agg(sum("n_kept")).head.getLong(0)
    val distinctChunks = operators.TextOps.q195CdcChunks(spark, sfDir)
      .count() // chunks in >= 2 docs
    // kept = one occurrence per DISTINCT chunk content (shared or not)
    val allDistinct = {
      val d = graft.Tables.documents(spark, sfDir)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), col("toks"))
      operators.TextOps.cdcChunks(d).select(md5(col("chunk"))).distinct().count()
    }
    assert(totalKept == allDistinct,
      s"kept $totalKept != distinct chunks $allDistinct")
    assert(rewrite.filter(col("n_dropped") > 0).count() >= distinctChunks / 10,
      "the fixture shares chunks, so some docs must lose some")
    val win = operators.TextOps.q208ContextWindows(spark, sfDir)
    val totalToks = graft.Tables.documents(spark, sfDir)
      .agg(sum(size(split(col("text"), " ")))).head.getLong(0)
    assert(win.agg(sum("n_toks")).head.getLong(0) == totalToks,
      "windows must partition the concatenated stream exactly")
    assert(win.filter(col("n_toks") > 128).count() == 0)
    // every window except the last is exactly full
    assert(win.filter(col("n_toks") < 128).count() <= 1)
  }

  test("ivfpqAdcSearch is a library operator: a caller-supplied query " +
      "frame (arbitrary ids, not the pinned corpus range) scores against " +
      "trained codebooks, and identical queries get identical rankings") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // 64-dim corpus: 4 well-separated direction clusters so the trained
    // codebooks and cells are stable
    def mk(seed: Int): Seq[Double] =
      (0 until 64).map(i => math.sin(seed * 64 + i * 0.7) + (seed % 4) * 3.0)
    val e = (0 until 40).map(i => (i.toLong, mk(i))).toDF("vec_id", "v")
    val assigned = operators.VectorOps.assignCells(e)
    val books = operators.VectorOps.trainPqCodebooks(e)
    assert(books.count() == 16) // 4 subspaces x 4 codewords
    // the SAME underlying query vector under TWO caller-chosen ids: the
    // operator must treat q_id as opaque and rank both identically
    val base = assigned.filter(col("vec_id") === 20L)
    val queries = base.select(lit(1020L).as("q_id"), col("cell").as("q_cell"),
        col("v").as("qv"))
      .unionByName(base.select(lit(2077L).as("q_id"),
        col("cell").as("q_cell"), col("v").as("qv")))
    val out = operators.VectorOps.ivfpqAdcSearch(assigned, books, queries, 3)
      .collect()
    def ranking(q: Long) = out.filter(_.getLong(0) == q)
      .map(r => (r.getLong(3), r.getLong(2), r.getDouble(4))).sorted.toSeq
    assert(ranking(1020L).nonEmpty && ranking(1020L).size <= 3)
    assert(ranking(1020L).map(_._1) == (1L to ranking(1020L).size).toSeq)
    assert(ranking(1020L) == ranking(2077L),
      s"same vector, different caller id must rank identically: " +
        s"${ranking(1020L)} vs ${ranking(2077L)}")
  }
}
