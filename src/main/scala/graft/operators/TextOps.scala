package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.Materialize

/** Large-scale training-data text operators over `documents` (north-star
  * extensions per BASELINE.json): exact + MinHash/LSH + SimHash + n-gram
  * Jaccard deduplication, language-ID heuristic, quality scoring, token
  * counting, bottom-k document fingerprinting.
  *
  * Cross-engine determinism policy: every hash is md5 (identical lowercase
  * hex in Spark and DuckDB), every ratio derives from integer counts (bit-
  * exact as doubles), orderings always carry an explicit tiebreak. All text
  * expressions are built-in higher-order functions — no UDFs, so they stay
  * in whole-stage codegen.
  *
  * Scale notes: the pairwise Jaccard query (q36) is intentionally bounded —
  * the unbounded-scale path for near-dup detection is MinHash banding (q34),
  * whose cost is linear in corpus size + band-bucket join (the classic
  * shingle→minhash→band→bucket-join pipeline); moderate bucket skew at
  * 100 TB is handled by AQE skew-join splitting, and pathological
  * (boilerplate) mega-buckets are capped — members divert to the exact
  * prefix-filtered verifier (see [[lshPairsCapped]]).
  */
object TextOps {

  /** documents + tokenized text. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("toks", split(col("text"), " "))

  private val shingles3 =
    "IF(size(toks) >= 3, transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])), CAST(array() AS ARRAY<STRING>))"

  /** 5-gram shingles shared by q116 and its Bloom scale path q201 — ONE
    * definition, because q201's transparency invariant (exact hits equal
    * q116) requires byte-identical gram construction. */
  private[graft] val fiveGrams =
      "IF(size(toks) >= 5, transform(sequence(0, size(toks)-5), i -> " +
        "concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])), " +
        "CAST(array() AS ARRAY<STRING>))"


  /** Exact dedup by content key (hash-groupBy): md5 of the first-8-token
    * prefix; keep the smallest doc_id per group. Map-side partial agg makes
    * this a single shuffle of (key → min,count) state at any scale. */
  def q33DedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("dup_key", md5(concat_ws(" ", slice(col("toks"), 1, 8))))
      .groupBy(col("dup_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** MinHash + LSH near-dup candidate pairs: word 3-gram shingles → 8
    * minhash permutations → 4 bands × 2 rows → pairs sharing any band
    * bucket.
    *
    * The permutation family is Kirsch–Mitzenmacher double hashing
    * (perm_i = (h1 + i·h2) mod 2^32, h1/h2 = two 32-bit halves of ONE
    * md5 per shingle) — the standard trick for simulating k independent
    * hashes from two. The digest loop dominates minhash cost at corpus
    * scale, so 1 md5 per shingle instead of 8 cuts the signature stage
    * ~8× with the same banding statistics. */
  /** The shingle→minhash→band pipeline shared by q34 (corpus self-join)
    * and q141 (batch-vs-index semi-joins): (doc_id, band, bkey) rows, 4
    * bands of 2 Kirsch–Mitzenmacher permutations each. The signature is
    * the native fused-loop expression ([[graft.functions.MinHashSigs]] —
    * one digest per shingle, bytes→ints, all 8 minima in one traversal;
    * the HOF formulation it replaced allocated an (a,b) struct array and
    * traversed it 8×). Pure transformation — callers own
    * repartition/persist decisions. */
  private[graft] def minhashBands(docsWithToks: DataFrame): DataFrame = {
    val sig = docsWithToks
      .withColumn("shingles", expr(shingles3))
      .withColumn("sigs", graft.functions.MinHashSigs(col("shingles")))
    // One pass over the signature: explode 4 band structs instead of a
    // 4-arm union that would recompute the minhash subtree per arm.
    val bandStructs = (0 until 4).map { b =>
      // concat (NOT concat_ws): a doc with no shingles has a NULL
      // signature, and concat's null-propagation keeps its bkey NULL so
      // the equi-join drops it — concat_ws would silently bucket all
      // such docs together.
      struct(lit(b).as("band"),
        md5(concat(col("sigs").getItem(2 * b).cast("string"), lit("_"),
          col("sigs").getItem(2 * b + 1).cast("string"))).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Oversized-bucket cap for the LSH band self-join (the boilerplate
    * failure mode docs/SCALING.md names): one pathological band bucket of
    * B docs is B²/2 candidate pairs no matter what AQE does, so buckets
    * past the cap never enter the pair join — their members divert to the
    * prefix-filtered EXACT verifier ([[prefixJaccardPairs]]) at the
    * banding scheme's implied threshold (b=4, r=2 → t ≈ (1/4)^(1/2) =
    * 0.5). On non-adversarial corpora no bucket reaches the cap, the
    * diverted set is empty, and the plan degenerates to the classic
    * bucket join plus a no-op semi-join — q34's oracle is unchanged. */
  private[graft] val LshBucketCap = 1000

  def q34MinhashLsh(s: SparkSession, dir: String): DataFrame =
    lshPairsCapped(
      docs(s, dir).repartition(s.sparkContext.defaultParallelism),
      LshBucketCap)

  /** Band-bucket candidate pairs with the oversized-bucket diversion.
    * `docsWithToks` must carry (doc_id, toks); the result is the distinct
    * (doc_a < doc_b) pair set, eagerly materialized: a dozen query
    * functions compose it, several reading it more than once. */
  private[graft] def lshPairsCapped(docsWithToks: DataFrame, cap: Int): DataFrame = {
    // The documents table arrives as one small parquet split; the minhash
    // stage is compute-bound (the md5 per shingle) and is parallelized by
    // the caller's repartition. Persist: the bucket census and the
    // self-join sides would otherwise each recompute the full
    // shingle→minhash pipeline (5M+ md5 at sf0.1).
    val bands = minhashBands(docsWithToks)
      .filter(col("bkey").isNotNull) // shingle-less docs never pair
      .transform(Materialize.persist(_))
    // ONE action both materializes the persist and answers the census
    // question: the max band-bucket size is a map-side-combined
    // aggregation plus a 1-row global max, so the clean path pays no
    // separate count + isEmpty barrier (the round-9 form ran two full
    // passes over the cached bands before the self-join could start).
    // 1-row driver read — the same bounded class as the closure's
    // convergence reads.
    val maxBucket = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsz"))
      .agg(max(col("bsz")).as("m"))
      .collect()(0) match {
        case r if r.isNullAt(0) => 0L // no bands at all
        case r => r.getLong(0)
      }
    // The CLEAN path keeps the classic band self-join with zero extra
    // joins or corpus scans — the cap costs nothing extra when no bucket
    // is pathological. Oversized keys recompute from the cached bands
    // only on the adversarial path.
    lazy val over = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)
      .select(col("band"), col("bkey"))
    val pairs =
      if (maxBucket <= cap)
        bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
          .transform(Materialize.localCheckpoint(_))
      else {
        val keys = Materialize.persist(over)
        keys.count()
        // capped buckets pair as usual (anti-join against the tiny
        // oversized-key set — broadcast-sized by construction)
        val small = bands.join(keys, Seq("band", "bkey"), "left_anti")
        val smallPairs = small.as("a").join(small.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        // Diverted members: every doc that appears in ANY oversized
        // bucket goes through the exact path once (not once per bucket).
        val overDocs = bands.join(keys, Seq("band", "bkey"), "left_semi")
          .select(col("doc_id")).distinct()
        val overTd = docsWithToks
          .join(overDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), expr(s"array_distinct($shingles3)").as("td"))
        val overPairs = prefixJaccardPairs(overTd, 1, 2)
          .select(col("doc_a"), col("doc_b"))
        Materialize.localCheckpoint(smallPairs.unionByName(overPairs).distinct())
      }
    pairs
  }

  /** SimHash: 16-bit signature — per bit j, the sign of the sum over tokens
    * of ±1 by bit j of md5(token). Near-identical docs land on identical or
    * 1-2-bit-distant signatures.
    *
    * Computed by the native [[graft.functions.SimHash16]] expression: one
    * fused codegen loop, one digest per token — the equivalent 16-arm
    * `aggregate(toks, ...)` formulation runs 16 interpreted passes with 16
    * digests per token (PropertySpec pins the equivalence). */
  def q35Simhash(s: SparkSession, dir: String): DataFrame = {
    // The native expression is null-in/null-out; the 16-arm SQL formulation
    // (and the DuckDB oracle) yield all-'0' for a NULL token array (each
    // NULL counter takes the otherwise-'0' branch) — coalesce restores that
    // exact behavior for documents with null text.
    docs(s, dir).select(col("doc_id"),
      coalesce(graft.functions.SimHash16(col("toks")),
        lit("0" * 16)).as("simhash"))
  }

  /** n-gram (bigram) Jaccard near-dup pairs, bounded to doc_id < 200 — the
    * quadratic exact check; the scale path is q34. All ratios are
    * integer-derived, so both engines compute identical doubles. */
  def q36NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val bg = docs(s, dir).filter(col("doc_id") < 200)
      .withColumn("bigrams", array_distinct(expr(
        "IF(size(toks) >= 2, transform(sequence(0, size(toks)-2), i -> concat_ws(' ', toks[i], toks[i+1])), CAST(array() AS ARRAY<STRING>))")))
      .select(col("doc_id"), explode(col("bigrams")).as("b"))
    val n = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
    val shared = bg.as("a").join(bg.as("b"),
        col("a.b") === col("b.b") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("sh"))
    shared
      .join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb2"), col("doc_b") === col("nb2.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("sh") / (col("na.nb") + col("nb2.nb") - col("sh")), 4).as("jac"))
      .filter(col("jac") >= 0.3)
  }

  /** Language-ID by marker-word counts (n-gram heuristic shape): argmax of
    * three fixed marker sets with deterministic tie order. */
  def q39LangId(s: SparkSession, dir: String): DataFrame = {
    val c1 = expr("size(filter(toks, t -> t IN ('the','a','data')))").cast("long")
    val c2 = expr("size(filter(toks, t -> t IN ('spark','query','join')))").cast("long")
    val c3 = expr("size(filter(toks, t -> t IN ('row','line','scan')))").cast("long")
    docs(s, dir).select(col("doc_id"), c1.as("c1"), c2.as("c2"), c3.as("c3"))
      .withColumn("pred",
        when(col("c1") >= col("c2") && col("c1") >= col("c3"), "en")
          .when(col("c2") >= col("c3"), "tech")
          .otherwise("ops"))
  }

  /** Quality scoring: token count, average token length, stopword ratio,
    * composed score — all integer-derived (length/punct/stopword ratios per
    * the north-star spec). */
  def q40Quality(s: SparkSession, dir: String): DataFrame = {
    val nToks = size(col("toks")).cast("long")
    val nStop = expr("size(filter(toks, t -> t IN ('the','a','of','and')))").cast("long")
    val chars = length(col("text")).cast("long")
    docs(s, dir).select(
      col("doc_id"),
      nToks.as("n_tokens"),
      round((chars - (nToks - 1)) / nToks, 4).as("avg_tok_len"),
      round(nStop / nToks, 4).as("stop_ratio"),
      round(least(lit(1.0), nToks / 100.0) * (lit(1.0) - nStop / nToks), 4).as("quality"))
  }

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis 2006 —
    * design note, not code): draw k docs with inclusion probability
    * proportional to the q40 quality weight — the quality-biased
    * counterpart of the uniform reservoirs (q112/q177), the sampler a
    * budgeted corpus build actually wants ("spend the token budget on
    * better documents, stochastically, without replacement"). The E–S
    * key u^(1/w) maximization becomes ln(u)/w maximization; determinism
    * and engine-exactness come from the integer carrier: u derives from
    * the md5(doc_id) hex prefix (the q58 deterministic-randomness
    * convention), ln(u) quantizes to an integer once, the weight is the
    * 4dp-integer quality, and the sort key is ONE IEEE division of the
    * two exact integers — identically rounded on every engine, so the
    * top-k cut cannot straddle an ulp. TakeOrdered, no global sort; at
    * 100 TB this is a single scan + a k-row reduction, and the same key
    * works as a STREAMING weighted reservoir (keep the k largest keys
    * seen — E–S's own Algorithm A-Res). */
  def q300WeightedSample(s: SparkSession, dir: String): DataFrame = {
    // u in (0,1]: (hex64 + 1) / (2^32 + 1) — never 0, so ln(u) is finite
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + 1.0) / lit(4294967297.0)
    q40Quality(s, dir).select(col("doc_id"), col("quality"))
      .filter(col("quality") > 0)
      .withColumn("lnu_micro", round(log(u) * 1e6).cast("long"))
      .withColumn("w4", round(col("quality") * 1e4).cast("long"))
      // ln(u) < 0: dividing by a LARGER weight pulls the key toward 0,
      // i.e. up — exactly u^(1/w)'s order. Deliberately NOT re-rounded:
      // the division of two identical integers is ALREADY bit-identical
      // on every IEEE engine, while a decimal re-round would reintroduce
      // the .5-boundary fragility the integer carrier exists to avoid
      .withColumn("es_key", col("lnu_micro").cast("double") / col("w4"))
      .orderBy(col("es_key").desc, col("doc_id").asc).limit(50)
      .select(col("doc_id"), col("quality"), col("es_key"))
  }

  /** Per-source DATASHEET — the release-manifest table a corpus ships
    * with (Gebru et al. "Datasheets for Datasets" shape, reduced to the
    * metrics this engine already computes): per source, document and
    * token counts, mean q40 quality, the high-quality share (the NB
    * family's label base rate), and the near-duplicate DOC share (docs
    * appearing in ≥1 LSH candidate pair — q34's banding). Every column
    * composes an already-oracled signal, so the datasheet can never
    * drift from the queries that audit those signals individually.
    * Scale shape: one corpus scan for counts/quality + the pair-bound
    * LSH table rolled up by source; the per-source frame is the
    * bounded artifact. */
  def q301SourceDatasheet(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
    val nToks = size(col("toks")).cast("long")
    val nStop = expr("size(filter(toks, t -> t IN ('the','a','of','and')))")
      .cast("long")
    val q = round(least(lit(1.0), nToks / 100.0) *
      (lit(1.0) - nStop / nToks), 4)
    val pairs = q34MinhashLsh(s, dir)
    val dupDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    base
      .join(dupDocs.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(nToks).as("n_tokens"),
        // quality is already a 4dp-rounded value: summing its 1e4
        // integer form keeps the mean order-independent (a float avg
        // drifts in the last ulp under reshuffles)
        round(sum(round(q * 1e4).cast("long")) /
          (count(lit(1)) * 10000.0), 4).as("mean_quality"),
        round(sum(when(q >= 0.9, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 4).as("hq_share"),
        round(sum(when(col("dup").isNotNull, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 4).as("dup_doc_share"))
  }

  /** Lang × source independence audit — Pearson's chi-square over the
    * contingency table, the "is language balanced across sources?"
    * check a mixture design needs before per-source weights can be set
    * independently of language targets (a dependent table means
    * reweighting sources SILENTLY reweights languages). Exactness: each
    * cell's contribution (o−e)²/e = (o·N − row·col)² / (row·col·N) is
    * computed as the SAME IEEE-double op DAG on both engines (cast each
    * integer factor to double first, then multiply/subtract/square/
    * divide in a fixed order) — every step is exactly-rounded IEEE, so
    * the results are bit-identical cross-engine, and the total sums the
    * per-cell values through a micro-unit long (rounding identical
    * doubles is identical regardless of boundary proximity — the NB
    * lesson). Doubles, not longs, because the integer forms overflow
    * silently at corpus scale: o·N exceeds Long past ~3e9² docs and
    * (o·N − row·col)² wraps already near 50k docs on a skewed table —
    * a wrap the DuckDB oracle (HUGEINT) would not share, i.e. exactly
    * the asymmetric divergence this pipeline bans. The contingency
    * table is |lang|×|source| — the bounded artifact; one corpus scan
    * feeds it. */
  def q302ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val cl = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      .transform(Materialize.localCheckpoint(_)) // bounded contingency table
    val rows = cl.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val cols = cl.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val n = cl.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("nl"),
      countDistinct(col("source")).as("ns"))
    // all-double op DAG, factor-cast first — mirrored verbatim in the
    // oracle SQL so both engines run the identical IEEE sequence and
    // neither can integer-overflow (see docstring)
    val (od, rtd, ctd, nd) = (col("o").cast("double"),
      col("rt").cast("double"), col("ct").cast("double"),
      col("n").cast("double"))
    val cells = cl.join(rows, Seq("lang")).join(cols, Seq("source"))
      .crossJoin(broadcast(n))
      .withColumn("num", od * nd - rtd * ctd)
      .withColumn("contrib",
        col("num") * col("num") / (rtd * ctd * nd))
      .withColumn("cm", round(col("contrib") * 1e6).cast("long"))
    cells
      .crossJoin(broadcast(cells.agg(sum(col("cm")).as("chi2_micro"))))
      .select(col("lang"), col("source"), col("o"),
        round(rtd * ctd / nd, 4).as("expected"),
        round(col("contrib"), 6).as("contrib"),
        round(col("chi2_micro") / 1e6, 4).as("chi2"),
        ((col("nl") - 1) * (col("ns") - 1)).as("dof"))
  }

  /** Bradley–Terry preference aggregation — the rating model RLHF/
    * preference pipelines fit over pairwise comparison data (Hunter 2004
    * MM algorithm, three fixed iterations). Comparisons derive
    * deterministically from the corpus: consecutive doc_ids with
    * different sources pit source-vs-source, the longer document wins
    * (ties to the earlier doc). The MM update
    * p_i ← W_i / Σ_j n_ij/(p_i+p_j), normalized to Σp = 1 per round,
    * runs on integer micro-carriers: every division is ONE IEEE op on
    * exact integers, every Σ is a long sum — bit-identical across
    * engines regardless of aggregation order (the chi-square/NB
    * lesson). Scale shape: ONE corpus self-join keyed on doc_id+1
    * produces the comparisons, which immediately reduce to the
    * |sources|²-bounded pair matrix; all three iterations run on that
    * bounded table with broadcast rating joins — corpus size buys
    * comparisons, never iteration cost. */
  /** The deterministic pairwise-comparison table q305/q311 share:
    * consecutive doc_ids with different sources pit source-vs-source,
    * the longer document wins (ties to the earlier doc). One corpus
    * self-join keyed on doc_id+1. */
  private[graft] def prefComparisons(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .filter(col("a.source") =!= col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"),
        when(col("b.n_chars") > col("a.n_chars"), col("b.source"))
          .otherwise(col("a.source")).as("winner"))
  }

  def q305BradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val pairs = prefComparisons(s, dir)
      .select(least(col("sa"), col("sb")).as("i"),
        greatest(col("sa"), col("sb")).as("j"), col("winner"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("nij"),
        sum(when(col("winner") === col("i"), 1L).otherwise(0L)).as("wi"))
    bradleyTerryFit(pairs)
  }

  /** The MM fit over an explicit (i, j, nij, wi) unordered-pair matrix —
    * shared by q305 and the streaming preference sink (whose state IS
    * this matrix, summed across micro-batches). Per-source win totals
    * derive from the matrix (Σ wi on the i side + Σ nij−wi on the j
    * side — identical to counting winners directly), so the pair table
    * is the complete sufficient statistic. */
  private[graft] def bradleyTerryFit(pairs0: DataFrame): DataFrame = {
    val pairs = Materialize.localCheckpoint(pairs0) // |sources|² bound
    val wins = pairs.select(col("i").as("src"), col("wi").as("w"))
      .unionByName(pairs.select(col("j").as("src"),
        (col("nij") - col("wi")).as("w")))
      .groupBy(col("src")).agg(sum(col("w")).as("w"))
      .transform(Materialize.localCheckpoint(_))
    val ed = pairs.select(col("i").as("a2"), col("j").as("b2"), col("nij"))
      .unionByName(
        pairs.select(col("j").as("a2"), col("i").as("b2"), col("nij")))
    val players = ed.select(col("a2").as("src")).distinct()
    // ratings as MICRO-longs (p × 1e6): each update is one exact-integer
    // division per term, one long sum, one rounding — order-independent
    def step(p: DataFrame): DataFrame = {
      val pa = p.select(col("src").as("a2"), col("pm").as("pam"))
      val pb = p.select(col("src").as("b2"), col("pm").as("pbm"))
      val denom = ed
        .join(broadcast(pa), "a2").join(broadcast(pb), "b2")
        .withColumn("term_micro",
          round(lit(1e6) * (col("nij").cast("double") /
            (greatest(col("pam") + col("pbm"), lit(1L)).cast("double") / 1e6)))
            .cast("long"))
        .groupBy(col("a2").as("src"))
        .agg(sum(col("term_micro")).as("dm"))
      val praw = denom.join(broadcast(wins), Seq("src"), "left")
        .withColumn("prm",
          round(lit(1e6) * (coalesce(col("w"), lit(0L)).cast("double") /
            (greatest(col("dm"), lit(1L)).cast("double") / 1e6)))
            .cast("long"))
      praw
        .crossJoin(broadcast(praw.agg(sum(col("prm")).as("sm"))))
        .select(col("src"),
          round(lit(1e6) * (col("prm").cast("double") /
            col("sm").cast("double"))).cast("long").as("pm"))
    }
    var p = Materialize.localCheckpoint(players.withColumn("pm", lit(1000000L)))
    for (_ <- 1 to 3) p = Materialize.localCheckpoint(step(p)) // tiny: |sources| rows
    p.join(broadcast(wins), Seq("src"), "left")
      .select(col("src"), coalesce(col("w"), lit(0L)).as("w"),
        (col("pm").cast("double") / 1e6).as("p"))
  }

  /** Win-rate significance — the sign test a preference pipeline runs
    * before trusting a pairwise verdict between two sources: per
    * unordered source pair, the normal-approximation sign-test statistic
    * z = (2·w_i − n)/√n over q305's comparison table (H₀: either side
    * wins a toss-up), with |z| > 1.96 flagging the pair as DECISIVE at
    * ~95%. Complements q305: the MM fit RANKS sources, this says which
    * head-to-head edges carry enough evidence to act on. z is one fixed
    * IEEE DAG over exact integer counts (cast-first, the chi-square
    * convention), and the decisive flag reads the ROUNDED z so both
    * engines compare the identical 6dp value. Pair-matrix bounded
    * (|sources|²); one corpus scan. */
  def q311WinrateSignificance(s: SparkSession, dir: String): DataFrame = {
    val pairs = prefComparisons(s, dir)
      .select(least(col("sa"), col("sb")).as("i"),
        greatest(col("sa"), col("sb")).as("j"), col("winner"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("winner") === col("i"), 1L).otherwise(0L)).as("wi"))
    pairs
      .withColumn("z", round(
        (lit(2.0) * col("wi").cast("double") - col("n").cast("double")) /
          sqrt(col("n").cast("double")), 6))
      .withColumn("decisive", abs(col("z")) > 1.96)
  }

  /** Inter-annotator agreement (Cohen's kappa) per source — the label-
    * quality gate an annotation/judge pipeline runs before trusting a
    * rater pair. The two raters are deterministic judges over the
    * corpus (rater A: n_chars ≥ 200; rater B: ≥ 40 whitespace tokens);
    * kappa = (p_o − p_e)/(1 − p_e) from the per-source 2×2 confusion.
    * All inputs are integer counts; the ratio DAG casts each factor to
    * double first and runs the identical exactly-rounded IEEE sequence
    * on both engines (the chi-square convention), with the degenerate
    * p_e = 1 table mapping to NULL on both. One corpus scan; the
    * per-source confusion is the bounded artifact. */
  def q306CohenKappa(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("ra", (col("n_chars") >= 200).cast("int"))
      .withColumn("rb", (size(split(col("text"), " ")) >= 40).cast("int"))
    val ct = d.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      sum(when(col("ra") === 1 && col("rb") === 1, 1L).otherwise(0L)).as("n11"),
      sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L)).as("n10"),
      sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L)).as("n01"),
      sum(when(col("ra") === 0 && col("rb") === 0, 1L).otherwise(0L)).as("n00"))
    val nd = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nd
    val pe = ((col("n11") + col("n10")).cast("double") *
        (col("n11") + col("n01")).cast("double") +
      (col("n01") + col("n00")).cast("double") *
        (col("n10") + col("n00")).cast("double")) / (nd * nd)
    ct.select(col("source"), col("n"),
      col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      when(lit(1.0) - pe === 0.0, lit(null).cast("double"))
        .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Template mining — instruction/boilerplate FREQUENCY analysis (the
    * curation step that catches ten thousand documents stamped from one
    * synthetic-instruction template even when near-dup misses them
    * because the slot VALUES differ): the template is the normalized
    * OPENING (lowercase, digit runs → '0', whitespace collapsed, first
    * 8 tokens — instruction stamps live in the prefix: "write a story
    * about 0 ..."), keyed by md5; report each template's document
    * count, source spread, and smallest doc id as the canonical
    * example. Pure codegen string chain + ONE groupBy — at 100 TB this
    * is a single scan with map-side combine and a |templates|-bounded
    * report. Templates seen once are noise and drop (n_docs >= 2). */
  def q318TemplateMining(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(
      regexp_replace(lower(col("text")), "[0-9]+", "0"), "\\s+", " ")
    val template = concat_ws(" ", slice(split(norm, " "), 1, 8))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), md5(template).as("template_key"))
      .groupBy(col("template_key"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("example_doc"))
      .filter(col("n_docs") >= 2)
  }

  /** Sequence-packing audit — the concat-and-chunk preprocessing step
    * of a pretraining pipeline: within each source, document tokens
    * stream contiguously in doc_id order and training sequences are the
    * fixed 2048-token chunks of that stream. A document belongs to the
    * sequence containing its FIRST token (seq = (cum − n_tok) div 2048,
    * the prefix-before-me rule); a document whose last token lands in a
    * later chunk is SPLIT by the chunker — the per-sequence split count
    * is the coherence-loss signal this audit exists for (how many
    * training sequences start mid-document decides whether you pay for
    * a doc-boundary-respecting packer). The cumulative sum runs over a
    * source-PARTITIONED window (never a global sort; sources chunk
    * independently exactly as shards do at corpus scale), then one
    * bounded groupBy. */
  def q319SequencePacking(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val sized = docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tok"))
    sized
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq", expr("(cum - n_tok) div 2048"))
      .withColumn("split",
        when(expr("(cum - 1) div 2048") > col("seq"), 1L).otherwise(0L))
      .groupBy(col("source"), col("seq"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("split")).as("n_split"),
        min(col("doc_id")).as("first_doc"))
  }

  /** Word-bigram expression shared by the diversity audit (q322):
    * adjacent token pairs, empty below 2 tokens. */
  private val bigrams =
    "IF(size(toks) >= 2, transform(sequence(0, size(toks)-2), " +
      "i -> concat_ws(' ', toks[i], toks[i+1])), " +
      "CAST(array() AS ARRAY<STRING>))"

  /** N-gram diversity audit — the synthetic-data MODE-COLLAPSE detector
    * (self-BLEU's cheap dual): a source whose generator loops emits few
    * DISTINCT bigrams relative to its token mass and a low-entropy
    * bigram distribution, long before near-dup fires (the documents
    * differ; their phrase inventory doesn't). Per source: total and
    * distinct bigram counts, distinct ratio, and the Shannon entropy of
    * the bigram distribution. Entropy rides the micro-integer
    * convention: Σ c·(ln N − ln c) quantizes PER GRAM to a long
    * (round(c·(lnN−lnc)·10⁶)), so the cross-gram sum is exact long
    * addition — aggregation-order-proof — and ONE final division lands
    * the nats. Scale shape: one scan + a (source, gram)-keyed partial
    * agg (vocab-bounded state) + a |sources|-bounded rollup. */
  def q322NgramDiversity(s: SparkSession, dir: String): DataFrame = {
    val gc = docs(s, dir)
      .select(col("source"), explode(expr(bigrams)).as("g"))
      .groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("c"))
    val tot = gc.groupBy(col("source"))
      .agg(sum(col("c")).as("n2"), count(lit(1)).as("d2"))
    gc.join(broadcast(tot), "source")
      .withColumn("term", round(
        (log(col("n2").cast("double")) - log(col("c").cast("double"))) *
          col("c").cast("double") * 1e6).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("n2")).as("n_bigrams"), max(col("d2")).as("d_bigrams"),
        sum(col("term")).as("tm"))
      .select(col("source"), col("n_bigrams"), col("d_bigrams"),
        round(col("d_bigrams") / col("n_bigrams"), 6).as("distinct_ratio"),
        round(col("tm").cast("double") /
          (col("n_bigrams").cast("double") * 1e6), 6).as("entropy_nats"))
  }

  /** Effective token yield after exact dedup — the budget truth a
    * mixture solver needs BEFORE allocating: raw per-source token counts
    * overstate what training sees once the dedup pass collapses copies,
    * and the overstatement is wildly source-skewed (a crawl source full
    * of mirrors yields 40% of its raw mass; a curated source 99%). Keys
    * are q33's content key (md5 of the first 8 tokens), keeps are the
    * min-doc_id representative GLOBALLY (cross-source copies collapse to
    * ONE survivor, attributed to the survivor's source — the same
    * decision q33 ships). Two keyed shuffles, both partial-aggregable;
    * never corpus². */
  def q323EffectiveYield(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("n_tok"),
      md5(concat_ws(" ", slice(col("toks"), 1, 8))).as("dup_key"))
    val keep = d.groupBy(col("dup_key")).agg(min(col("doc_id")).as("keep_id"))
    d.join(keep, "dup_key")
      .withColumn("kept", (col("doc_id") === col("keep_id")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("kept")).as("kept_docs"),
        sum(col("kept") * col("n_tok")).as("kept_tokens"))
      .withColumn("token_yield",
        round(col("kept_tokens") / col("n_tokens"), 6))
  }

  /** One DoReMi-style mixture-reweight step (Xie et al. 2023 shape —
    * design note, not code): domains = sources, each domain's excess-
    * loss proxy is its mean quality DEFICIT (1 − mean q40 quality, read
    * from the exact 10⁴ integer carrier so the mean is one IEEE division
    * of exact longs), and the exponentiated-gradient update reweights a
    * uniform baseline: w'_i ∝ exp(loss_i), normalized. Every exp term
    * quantizes to a micro-long before the normalizing sum (order-proof),
    * and each output weight spends one final division. |domains|-bounded
    * everything after one corpus scan with map-side combine. */
  def q324DoremiStep(s: SparkSession, dir: String): DataFrame = {
    val dom = doremiEm(s, dir)
    val z = dom.agg(sum(col("em")).as("z"))
    dom.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("loss"),
        round(col("em").cast("double") / col("z").cast("double"), 6)
          .as("weight"))
  }

  /** (source, n_docs, loss, em) — q324's per-domain exponentiated loss
    * terms, factored so the epoch planner (q329) reweights with the
    * SAME algebra the mixture step ships. */
  private def doremiEm(s: SparkSession, dir: String): DataFrame = {
    val nToks = size(col("toks")).cast("long")
    val nStop = expr("size(filter(toks, t -> t IN ('the','a','of','and')))")
      .cast("long")
    val w4 = round(
      round(least(lit(1.0), nToks / 100.0) * (lit(1.0) - nStop / nToks), 4)
        * 1e4).cast("long")
    docs(s, dir).select(col("source"), w4.as("w4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w4")).as("sw4"))
      .withColumn("loss", round(lit(1.0) -
        col("sw4").cast("double") / (col("n_docs").cast("double") * 1e4), 6))
      .withColumn("em", round(exp(col("loss")) * 1e6).cast("long"))
  }

  /** Data-constrained epoch planner (the Muennighoff et al. 2023
    * question every mixture step must answer next: "the solver wants
    * weight w_i of a B-token budget from source i — how many EPOCHS of
    * i's deduplicated tokens is that, and who crosses the repetition
    * cap?"): compose q323's effective yield (kept tokens after exact
    * dedup) with q324's mixture weights (same algebra via the shared
    * helper), budget = 4× total kept tokens (a deliberately
    * over-subscribed corpus so the report exercises the cap), epochs =
    * ceil(w_i·B / kept_i), flag epochs > 4 (the ~4-epoch
    * diminishing-returns knee). All counts exact longs; each epoch
    * figure spends the same raw em/z ratio the weights round from —
    * never a re-parsed rounded weight. |sources|-bounded after the two
    * q323 shuffles. */
  def q329EpochPlan(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("n_tok"),
      md5(concat_ws(" ", slice(col("toks"), 1, 8))).as("dup_key"))
    val keep = d.groupBy(col("dup_key")).agg(min(col("doc_id")).as("keep_id"))
    val y = d.join(keep, "dup_key")
      .groupBy(col("source"))
      .agg(sum(when(col("doc_id") === col("keep_id"), col("n_tok"))
        .otherwise(0L)).as("kept_tokens"))
    val em = doremiEm(s, dir)
    val z = em.agg(sum(col("em")).as("z"))
    val tot = y.agg((sum(col("kept_tokens")) * 4).as("budget"))
    // kept_tokens can be 0 (every one of a source's dup-group keepers
    // lives in another source): ceil(w·B/0) would silently yield
    // Long.MaxValue here while the oracle's CAST(ceil(inf) AS BIGINT)
    // errors — guard BOTH engines to null, the q327/q328 ratio
    // convention (round-16 ADVICE).
    em.join(y, "source")
      .crossJoin(broadcast(z)).crossJoin(broadcast(tot))
      .select(col("source"), col("kept_tokens"),
        round(col("em").cast("double") / col("z").cast("double"), 6)
          .as("weight"),
        when(col("kept_tokens") === 0, lit(null).cast("long"))
          .otherwise(ceil(col("em").cast("double") / col("z").cast("double")
            * col("budget").cast("double") / col("kept_tokens").cast("double"))
            .cast("long")).as("epochs"))
      .withColumn("over_epoch_cap",
        when(col("kept_tokens") === 0, lit(null).cast("boolean"))
          .otherwise(col("epochs") > 4))
  }

  /** Top-k vocabulary coverage — the tokenizer/vocab-budget audit ("how
    * many types cover 90% / 99% of the token mass?"): per source, rank
    * types by count (token tiebreak), cumulative mass along the rank,
    * and report the smallest rank reaching each coverage bar — decided
    * INTEGER-exactly (cum·10 ≥ 9·total), never via a float share. The
    * rank window's input is the (source, token) COUNT AGGREGATE —
    * vocab-bounded state, the audit-exempt window class — and the
    * final rollup is |sources| rows. */
  def q325VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = docs(s, dir)
      .select(col("source"), explode(col("toks")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("token").asc)
    val tot = tc.groupBy(col("source"))
      .agg(sum(col("c")).as("nt"), count(lit(1)).as("vocab"))
    tc.withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(tot), "source")
      .groupBy(col("source"))
      .agg(max(col("vocab")).as("vocab_size"),
        max(col("nt")).as("n_tokens"),
        min(when(col("cum") * 10 >= col("nt") * 9, col("r"))).as("k90"),
        min(when(col("cum") * 100 >= col("nt") * 99, col("r"))).as("k99"),
        max(when(col("r") === 1, col("token"))).as("top_token"))
  }

  /** Soft dedup — duplicate DOWNWEIGHTING instead of dropping (the
    * SoftDeDup alternative to q33's hard keep/drop: dropping loses the
    * signal that popular text is popular; training instead weights each
    * copy 1/n_copies so every duplicate GROUP contributes one document's
    * mass, distributed over its members). Per source: raw docs/tokens
    * and the soft-weighted token mass, each doc's contribution
    * n_tok/n_copies quantized to a micro-long (ONE IEEE division per
    * doc, then exact long sums — aggregation-order-proof), plus the
    * soft/raw ratio next to q323's hard yield for the three-way
    * comparison a budget meeting actually wants. Same two keyed
    * shuffles as q323. */
  def q330SoftDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("n_tok"),
      md5(concat_ws(" ", slice(col("toks"), 1, 8))).as("dup_key"))
    val grp = d.groupBy(col("dup_key")).agg(count(lit(1)).as("n_copies"))
    d.join(grp, "dup_key")
      .withColumn("soft_micro", round(
        col("n_tok").cast("double") * 1e6 / col("n_copies").cast("double"))
        .cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("soft_micro")).as("soft_micro"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("soft_micro").cast("double") / 1e6, 3).as("soft_tokens"),
        round(col("soft_micro").cast("double") /
          (col("n_tokens").cast("double") * 1e6), 6).as("soft_ratio"))
  }

  /** Global-vs-local dedup comparison — the FineWeb finding turned into
    * an audit ("per-dump dedup beat global dedup"; Penedo et al. 2024):
    * for each source, the duplicate share under GLOBAL dedup (one keep
    * per content key corpus-wide — cross-shard copies die) vs LOCAL
    * dedup (one keep per key WITHIN the shard — cross-shard copies all
    * survive). The gap per source is exactly the cross-shard duplicate
    * mass, the number that decides which regime a corpus build runs.
    * Keys and keeps are q33's (md5 first-8-token key, min-doc_id
    * survivor). Three keyed partial-aggregable shuffles, all on the
    * near-uniform content key. */
  def q333GlobalVsLocalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("n_tok"),
      md5(concat_ws(" ", slice(col("toks"), 1, 8))).as("dup_key"))
    val gkeep = d.groupBy(col("dup_key")).agg(min(col("doc_id")).as("gk"))
    val lkeep = d.groupBy(col("dup_key"), col("source"))
      .agg(min(col("doc_id")).as("lk"))
    d.join(gkeep, "dup_key")
      .join(lkeep, Seq("dup_key", "source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(when(col("doc_id") === col("gk"), col("n_tok")).otherwise(0L))
          .as("global_kept_tokens"),
        sum(when(col("doc_id") === col("lk"), col("n_tok")).otherwise(0L))
          .as("local_kept_tokens"))
      .withColumn("global_yield",
        round(col("global_kept_tokens") / col("n_tokens"), 6))
      .withColumn("local_yield",
        round(col("local_kept_tokens") / col("n_tokens"), 6))
      .withColumn("cross_shard_dup_tokens",
        col("local_kept_tokens") - col("global_kept_tokens"))
  }

  /** Shard-incremental novelty curve — the data-accumulation question
    * behind every "should we ingest the next shard" decision: visiting
    * shards (sources) in a fixed deterministic order (lexicographic —
    * the convention, documented, not arrival time), how many TOKENS of
    * each shard are NEW, i.e. their q33 content key was never seen in
    * an earlier shard? A shard of mirrors adds mass but no novelty;
    * the curve's flattening point is where ingestion stops paying.
    * Each dup group's novelty is booked ONCE, in its first owning
    * shard, at its representative's (min doc_id there) token count.
    * Scale shape: the same two dup-key shuffles as q323 plus one
    * |sources|-row cumulative window over the joined AGGREGATES (the
    * audit-exempt bounded-window class). */
  def q331NoveltyCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("n_tok"),
      md5(concat_ws(" ", slice(col("toks"), 1, 8))).as("dup_key"))
    val firstSrc = d.groupBy(col("dup_key"))
      .agg(min(col("source")).as("fs"))
    val novel = d.join(firstSrc, "dup_key")
      .filter(col("source") === col("fs"))
      .groupBy(col("dup_key"))
      .agg(min(struct(col("doc_id"), col("n_tok"))).as("r"),
        max(col("fs")).as("src"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_new_groups"),
        sum(col("r.n_tok")).as("novel_tokens"))
    val totals = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val w = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals.join(novel, col("source") === col("src"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_new_groups"), lit(0L)).as("n_new_groups"),
        coalesce(col("novel_tokens"), lit(0L)).as("novel_tokens"))
      .withColumn("novelty_ratio",
        round(col("novel_tokens") / col("n_tokens"), 6))
      .withColumn("cum_novel_tokens", sum(col("novel_tokens")).over(w))
  }

  /** Canary / leaked-string contamination scan — the eval-protection
    * pass decontamination suites run ALONGSIDE n-gram overlap (q116/
    * q201 ask "how much eval text leaked"; this asks "which exact
    * planted strings appear ANYWHERE in training text"): the canary set
    * is each eval doc's 4-token opening (eval docs = doc_id ≡ 0 mod 31
    * — the deterministic holdout convention), and a hit is the canary
    * appearing as a contiguous TOKEN RUN in another doc. Token-aligned
    * containment makes the scan a keyed EQUI-JOIN of the corpus's
    * exploded 4-gram runs against the broadcast canary set — at 100 TB
    * this is one scan + a broadcast hash join (eval-sized build side),
    * never a per-(doc, canary) substring pass; an Aho–Corasick UDF
    * would catch mid-token alignments but turns the scan into
    * unindexable per-row work for a case synthetic canaries never
    * exercise (canaries are planted token-aligned by construction). */
  /** 4-token runs shared by the canary scan (q326) and its streaming
    * gate ([[graft.streaming.StreamOps.canaryGateSink]]) — ONE
    * definition so batch and stream can never disagree on alignment. */
  private[graft] val fourGrams =
    "IF(size(toks) >= 4, transform(sequence(0, size(toks)-4), " +
      "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])), " +
      "CAST(array() AS ARRAY<STRING>))"

  /** The canary set q326 scans for: each eval doc's (doc_id ≡ 0 mod 31)
    * 4-token opening, with its eval id. */
  private[graft] def canarySet(t: DataFrame): DataFrame =
    t.filter(col("doc_id") % 31 === 0 && size(col("toks")) >= 4)
      .select(col("doc_id").as("eval_id"),
        concat_ws(" ", slice(col("toks"), 1, 4)).as("g4"))

  def q326CanaryScan(s: SparkSession, dir: String): DataFrame =
    canaryScanImpl(s, dir, graft.util.Guards.EvalBroadcastRows)

  /** q326 body with the eval-broadcast bound as a parameter (specs
    * prove the guard fires; production runs at the shared bound). The
    * canary set is eval-sized BY CONTRACT — the guard makes the
    * contract loud instead of conventional. */
  private[graft] def canaryScanImpl(s: SparkSession, dir: String,
                                    evalBound: Long): DataFrame = {
    val t = docs(s, dir)
    val canaries = graft.util.Guards.boundedBroadcast(
      canarySet(t), evalBound, "q326 canary scan")
    t.select(col("doc_id"), col("source"),
        explode(expr(fourGrams)).as("g4"))
      .join(canaries, "g4")
      .filter(col("doc_id") =!= col("eval_id"))
      .select(col("source"), col("doc_id"), col("eval_id")).distinct()
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_hit_docs"),
        count(lit(1)).as("n_pairs"),
        min(col("doc_id")).as("example_doc"),
        min(col("eval_id")).as("example_canary"))
  }

  /** LSH banding-precision sample — the PRODUCTION companion of q288's
    * exact-truth eval (q288 measures precision AND recall against a
    * brute-force truth it can only afford at eval scale; a 100 TB dedup
    * run can still afford THIS: deterministically sample the candidate
    * pair list, verify the sample exactly, read banding precision off
    * it). Sample = pairs whose md5("a:b") opens with hex '0' (a fixed
    * 1/16, reproducible across runs and engines); verification is the
    * exact distinct-3-shingle Jaccard ≥ 0.5 decided integer-exactly
    * (2·inter ≥ union — the q211 convention). Cost: the pair list the
    * dedup already built + a sample-bound verify join; the full-corpus
    * truth q288 needs never materializes. */
  def q327LshPrecisionSample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).repartition(s.sparkContext.defaultParallelism)
    val pairs = lshPairsCapped(d, LshBucketCap)
    val sampled = pairs.filter(
      substring(md5(concat_ws(":", col("doc_a"), col("doc_b"))), 1, 1)
        === "0")
    val sd = d.select(col("doc_id"),
      expr(s"array_distinct($shingles3)").as("sd"))
    val ver = sampled
      .join(sd.select(col("doc_id").as("doc_a"), col("sd").as("sa")), "doc_a")
      .join(sd.select(col("doc_id").as("doc_b"), col("sd").as("sb")), "doc_b")
      .withColumn("inter", expr("size(array_intersect(sa, sb))").cast("long"))
      .withColumn("un", expr("size(array_union(sa, sb))").cast("long"))
      .withColumn("istrue",
        (col("un") > 0 && col("inter") * 2 >= col("un")).cast("long"))
    pairs.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(ver.agg(count(lit(1)).as("n_sampled"),
        coalesce(sum(col("istrue")), lit(0L)).as("n_true"))))
      .select(col("n_candidates"), col("n_sampled"), col("n_true"),
        when(col("n_sampled") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_true") / col("n_sampled"), 6))
          .as("precision"))
  }

  /** Fleiss' kappa — MULTI-rater agreement (Fleiss 1971), the m-rater
    * generalization the 2-rater q306 Cohen's κ cannot express: an
    * annotation campaign routinely puts 3–5 raters on each item, and
    * "how consistent is the pool" is the go/no-go signal before the
    * labels train a reward model. Items are consecutive blocks of 4
    * docs (doc_id div 4); each doc contributes its rater's (doc_id mod
    * 4) category from the 3-bucket length rubric, so every full item
    * has exactly m=4 ratings (the partial tail block is dropped — the
    * statistic is undefined off equal m). The whole computation rides
    * on EXACT integer sufficient statistics: Σ_i Σ_j n_ij² and the
    * per-category totals T_j, then P̄ = (Σn² − Nm)/(Nm(m−1)) and
    * P_e = ΣT_j²/(Nm)² each spend ONE IEEE division, identical op order
    * in both engines. Two bounded groupBys over one scan — at 100 TB
    * the state is |items|×|categories| partials with full map-side
    * combine, same shape as any count aggregation. */
  def q315FleissKappa(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("item", expr("doc_id div 4"))
      .withColumn("cat", when(col("n_chars") < 150, 0L)
        .when(col("n_chars") < 300, 1L).otherwise(2L))
    val full = d.groupBy(col("item")).agg(count(lit(1)).as("mm"))
      .filter(col("mm") === 4).select(col("item"))
    val nij = d.join(full, "item")
      .groupBy(col("item"), col("cat")).agg(count(lit(1)).as("nij"))
    val stats = nij.agg(
      countDistinct(col("item")).as("n_items"),
      sum(col("nij") * col("nij")).as("sum_sq"),
      sum(when(col("cat") === 0, col("nij")).otherwise(0L)).as("t0"),
      sum(when(col("cat") === 1, col("nij")).otherwise(0L)).as("t1"),
      sum(when(col("cat") === 2, col("nij")).otherwise(0L)).as("t2"))
    val n = col("n_items").cast("double")
    val pbar = (col("sum_sq").cast("double") - n * lit(4.0)) /
      (n * lit(4.0) * lit(3.0))
    val pe = (col("t0").cast("double") * col("t0").cast("double") +
      col("t1").cast("double") * col("t1").cast("double") +
      col("t2").cast("double") * col("t2").cast("double")) /
      ((n * lit(4.0)) * (n * lit(4.0)))
    stats.select(col("n_items"), col("sum_sq"),
      col("t0"), col("t1"), col("t2"),
      round(pbar, 6).as("pbar"), round(pe, 6).as("pe"),
      // degenerate corpus (all items one category) → pe = 1 → κ undefined:
      // null on BOTH engines (q306's guard), never an engine-specific NaN
      when(lit(1.0) - pe === 0.0, lit(null).cast("double"))
        .otherwise(round((pbar - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Preference-pair construction (the DPO/RLHF chosen-vs-rejected
    * mining step): within each source, rank documents by length (doc_id
    * tiebreak) and pair rank r from the top with rank r from the bottom
    * — top-8 chosen vs bottom-8 rejected, pairs that would overlap the
    * middle dropped. Windows are PARTITIONED by source (rank and count
    * both), so the ranking is per-group parallel with no global sort;
    * the chosen↔rejected match is an equi-join on (source, rank) whose
    * cardinality is 8 × |sources|. Margin (length gap) ships with each
    * pair — the downstream curriculum/filter signal. */
  def q307PreferencePairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val ranked = d
      .withColumn("r", row_number().over(w))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("source"))))
    val rejected = ranked.select(col("source").as("source2"),
      col("r").as("rr"), col("doc_id").as("rejected_id"),
      col("n_chars").as("rejected_chars"))
    ranked
      .filter(col("r") <= 8 && col("r") < col("cnt") - col("r") + 1)
      .join(rejected, col("source2") === col("source") &&
        col("rr") === col("cnt") - col("r") + 1)
      .select(col("source"), col("r").cast("long").as("pos"),
        col("doc_id").as("chosen_id"), col("rejected_id"),
        (col("n_chars") - col("rejected_chars")).as("margin"))
  }

  /** Token counting: whitespace tokens + regex-based subtoken counts (the
    * BPE-ish pass: alpha runs and long alpha runs). */
  def q41TokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(col("toks")).cast("long").as("ws_tokens"),
      expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long").as("alpha_tokens"),
      expr("size(regexp_extract_all(text, '[a-z]{5,}', 0))").cast("long").as("long_tokens"))

  /** Document fingerprint: bottom-4 sketch of 3-gram shingle hashes — an
    * order-insensitive, near-dup-stable rolling-hash fingerprint. */
  def q42Fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("shingles", expr(shingles3))
      .select(col("doc_id"),
        concat_ws(",", slice(sort_array(expr("transform(shingles, s -> md5(s))")), 1, 4))
          .as("fingerprint"))

  /** SimHash near-dup pairs: signatures within Hamming distance 2, bounded
    * to doc_id < 300 — the pair-verification stage of the SimHash dedup
    * path, using the native codegen'd [[graft.functions.HammingDistance]].
    * At scale the candidate set comes from banding the signature (split
    * into 4-bit chunks, join on any equal chunk) rather than this bounded
    * cross-pair demo. */
  def q56SimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = q35Simhash(s, dir).filter(col("doc_id") < 300)
    sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.HammingDistance(col("a.simhash"), col("b.simhash"))
          .cast("long").as("dist"))
      .filter(col("dist") <= 2)
  }

  /** Corpus length-distribution stats: exact interpolated median and p90 of
    * document length per language. `percentile` (exact, interpolating) is
    * the oracle-matchable form; at 100 TB the drop-in is
    * `approx_percentile` (t-digest) with a rows-only check — the exact
    * version needs a sort per group, the sketch is one pass + merge. */
  def q61LengthQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n_docs"))

  /** Deterministic train/validation/test split — hash-based assignment so
    * re-runs, late-arriving rows, and distributed execution all agree
    * (never `rand()`): bucket = first 4 hex digits of md5(doc_id) mod 100;
    * <80 train, <90 validation, else test. Reports per-lang counts. */
  def q58TrainTestSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr("conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)")
      .cast("long") % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    Tables.documents(s, dir)
      .withColumn("split", split)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
  }

  /** Typed-Aggregator bottom-k sketch per group (UDAF surface): the 3
    * smallest distinct text hashes per language — bounded mergeable state,
    * the skeleton an HLL/KMV sketch would reuse. */
  def q55BottomKSketch(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), md5(col("text")).as("h"))
      .groupBy(col("lang"))
      .agg(concat_ws(",", graft.functions.BottomK.bottomK(col("h"), 3)).as("sketch"))

  /** Approximate statistics, deterministic edition: the distinct-text
    * estimate is the KMV bottom-k sketch (the shared
    * [[graft.functions.BottomK.kmvEstimate]] definition) and the median
    * estimate is the exact percentile over the deterministic 25%
    * hash-sample (q58's bucket formula — never `rand()`). Every step is
    * engine-independent, so the whole family hash-matches its DuckDB
    * oracle — through round 5 this query shipped HLL++/t-digest and was
    * the suite's one rows-only entry; those remain the documented 100 TB
    * drop-ins when cross-engine reproducibility is not required (one pass,
    * mergeable state — same shape as the KMV aggregator used here). Exact
    * twins carried alongside so the estimators' error stays visible. */
  def q81ApproxStats(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val bucket = expr("conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)")
      .cast("long") % 100
    Tables.documents(s, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("in_sample", bucket < 25)
      .groupBy(col("lang"))
      .agg(
        graft.functions.BottomK.bottomK(col("h"), k).as("lows"),
        countDistinct(col("text")).as("exact_texts"),
        round(expr("percentile(CASE WHEN in_sample THEN n_chars END, 0.5)"), 1)
          .as("sample_p50"),
        round(expr("percentile(n_chars, 0.5)"), 1).as("exact_p50"))
      .select(col("lang"),
        graft.functions.BottomK.kmvEstimate(col("lows"), k).as("kmv_texts"),
        col("exact_texts"), col("sample_p50"), col("exact_p50"))
  }

  /** HyperLogLog distinct estimate, deterministic edition (Flajolet et
    * al. 2007): per-language distinct-text count via 256 registers, next
    * to the exact count so the error stays visible. The 100 TB story:
    * the register table is the ONLY shuffled state — (group, 256) rows of
    * `max(rho)` partial-aggregate regardless of corpus size, mergeable
    * across days/shards by the same max, vs countDistinct's full
    * distinct-key shuffle. Everything is engine-exact: bucket = first
    * md5 byte, rho = leading zeros of the next 48 bits + 1 (computed by
    * STRING length of `bin()`, no float log), and the harmonic sum runs
    * in INTEGER space — Σ 2^(49−M_j) ≤ 256·2^49 fits a long — so the one
    * double division (and the small-range ln correction) rounds from
    * identical integers in both engines. approx_count_distinct (HLL++)
    * is the built-in drop-in when cross-engine replay is not required. */
  /** (lang, text) rows → the (lang, bucket, max-rho) HLL register table —
    * the ONE mergeable state both the batch q267 and the streaming
    * [[graft.streaming.StreamOps.hllSink]] maintain (merge = max). */
  private[graft] def hllRegisters(rows: DataFrame): DataFrame =
    rows.select(col("lang"), md5(col("text")).as("h"))
      .withColumn("bucket", expr("CAST(conv(substr(h, 1, 2), 16, 10) AS BIGINT)"))
      .withColumn("tail48", expr("CAST(conv(substr(h, 3, 12), 16, 10) AS BIGINT)"))
      .withColumn("rho",
        when(col("tail48") === 0L, lit(49L))
          .otherwise(lit(49L) - length(expr("bin(tail48)"))))
      .groupBy(col("lang"), col("bucket"))
      .agg(max(col("rho")).as("reg"))

  /** Register table → (lang, hll_texts, n_zero_regs). ONE definition so
    * the batch query and the streaming sink can never disagree. */
  private[graft] def hllReport(regs: DataFrame): DataFrame = {
    val m = 256 // registers; alpha_256 = 0.7213/(1 + 1.079/256)
    val alpha = 0.7213 / (1 + 1.079 / m)
    regs.groupBy(col("lang"))
      .agg(
        // integer harmonic sum: present buckets contribute 2^(49-reg),
        // the (m - present) empty registers contribute 2^49 each
        (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - reg AS INT))")) +
          (lit(m.toLong) - count(lit(1))) * lit(1L << 49)).as("s49"),
        (lit(m.toLong) - count(when(col("reg") > 0, 1))).as("n_zero_regs"))
      .withColumn("raw_est",
        lit(alpha * m.toDouble * m.toDouble * (1L << 49).toDouble) / col("s49"))
      .withColumn("hll_texts",
        round(when(col("raw_est") <= lit(2.5 * m) && col("n_zero_regs") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("n_zero_regs")))
          .otherwise(col("raw_est")), 4))
      .select(col("lang"), col("hll_texts"), col("n_zero_regs"))
  }

  def q267HllSketch(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.documents(s, dir).groupBy(col("lang"))
      .agg(countDistinct(col("text")).as("exact_texts"))
    hllReport(hllRegisters(Tables.documents(s, dir)))
      .join(exact, Seq("lang"))
      .select(col("lang"), col("hll_texts"), col("exact_texts"),
        col("n_zero_regs"))
  }

  /** Count-Min sketch point queries (Cormode & Muthukrishnan 2005) over
    * the 3-shingle frequency stream: d=4 rows × w=1024 counters, built as
    * ONE shingle aggregation fanned ×4 into (row, idx) partial sums —
    * bounded 4096-counter state at any corpus size, mergeable by plain
    * addition (the CMS property), vs the exact per-key frequency table
    * whose cardinality grows with the corpus. Reported: the top-10 exact
    * shingles with their CMS estimate and the (always ≥ 0) collision
    * overestimate — the one-sided error bound that makes CMS safe for
    * threshold filters. All integers; hashes are md5-derived, so the
    * DuckDB replay is bit-identical. */
  /** The d=4 (row, idx) hash fan-out of a (sh, …) frame — the one hash
    * definition shared by counter build, probe, and the streaming sink. */
  private[graft] def cmsHashed(tf: DataFrame): DataFrame =
    tf.select(col("sh"), col("cf"),
      posexplode(array((0 until 4).map(r =>
        expr(s"CAST(conv(substr(md5(concat('$r', ':', sh)), 1, 4), 16, 10) AS BIGINT) % 1024")): _*))
        .as(Seq("row", "idx")))

  /** Shingle term frequencies of a (text) frame — the CMS input stream. */
  private[graft] def cmsTf(texts: DataFrame): DataFrame =
    texts.withColumn("toks", split(col("text"), " "))
      .select(explode(expr(shingles3)).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("cf"))

  /** tf → the 4×1024 counter table. CMS is LINEAR, so per-batch counters
    * sum-merge to exactly the full-corpus table — the property the
    * streaming sink's state merge relies on. */
  private[graft] def cmsCounters(tf: DataFrame): DataFrame =
    cmsHashed(tf).groupBy(col("row"), col("idx"))
      .agg(sum(col("cf")).as("counter"))

  /** Point queries: min over the d counters each probe term hashes to. */
  private[graft] def cmsProbe(counters: DataFrame, probe: DataFrame): DataFrame =
    cmsHashed(probe)
      .join(broadcast(counters), Seq("row", "idx"))
      .groupBy(col("sh"), col("cf"))
      .agg(min(col("counter")).as("cms_cf"))
      .select(col("sh"), col("cf").as("exact_cf"), col("cms_cf"),
        (col("cms_cf") - col("cf")).as("overestimate"))

  def q268CountMinSketch(s: SparkSession, dir: String): DataFrame = {
    val tf = cmsTf(Tables.documents(s, dir).select(col("text")))
      .transform(Materialize.localCheckpoint(_))
    cmsProbe(cmsCounters(tf), tf.orderBy(col("cf").desc, col("sh")).limit(10))
  }

  /** Histogram-sketch quantiles — the third mergeable sketch next to HLL
    * (cardinality, q267) and CMS (frequency, q268): per-language p50/p90
    * of document length from a FIXED 256-bin histogram (width-4 bins
    * over [0, 1024)), next to the exact interpolating percentile so the
    * ≤ bin-width error stays visible. The 100 TB story: exact quantiles
    * need a full sort (or multi-pass selection); the histogram is a
    * (group, ≤256) count state — one map-side-combined shuffle,
    * mergeable by plain addition across days/shards, and the quantile
    * read is a bounded cumulative scan over the artifact. Estimate =
    * upper edge of the first bin whose cumulative count reaches
    * ceil(q·n) — all-integer once past the one ceil, so the replay is
    * exact. */
  /** (lang, n_chars) rows → the (lang, bin, c) fixed-width histogram —
    * the one mergeable state both the batch q274 and the streaming
    * [[graft.streaming.StreamOps.histSink]] maintain (merge = sum). */
  private[graft] def histCounts(rows: DataFrame): DataFrame =
    rows.groupBy(col("lang"), (col("n_chars") / 4).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))

  /** Histogram → (lang, n_docs, hist_p50, hist_p90). ONE definition so
    * the batch query and the streaming sink can never disagree. */
  private[graft] def histQuantiles(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = hist.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val cum = hist
      .withColumn("cum", sum(col("c"))
        .over(Window.partitionBy(col("lang")).orderBy(col("bin"))))
      .join(broadcast(tot), Seq("lang"))
    def est(q: Double) = min(when(
      col("cum") >= expr(s"CAST(ceil($q * n) AS BIGINT)"),
      col("bin") * 4 + 3)).cast("long")
    cum.groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        est(0.5).as("hist_p50"), est(0.9).as("hist_p90"))
  }

  def q274HistogramQuantiles(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.documents(s, dir).groupBy(col("lang"))
      .agg(round(expr("percentile(n_chars, 0.5)"), 4).as("exact_p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("exact_p90"))
    histQuantiles(histCounts(Tables.documents(s, dir)))
      .join(exact, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("hist_p50"), col("exact_p50"),
        col("hist_p90"), col("exact_p90"))
  }

  /** Leakage-safe GroupKFold: cross-validation folds assigned by hash of
    * the q110 DEDUP CLUSTER (not the document), so near-duplicates can
    * never straddle a fold boundary — the grouped-split discipline that
    * keeps k-fold eval honest on an un-deduplicated corpus (the failure
    * q271 measures for the plain hash split). The output carries its own
    * audit: n_crossing_pairs counts LSH candidate pairs whose endpoints
    * fall in different folds, provably 0 because pairs live inside
    * components by construction — the column is the regression tripwire
    * if the fold key ever drifts off the canonical id. */
  def q275GroupKfold(s: SparkSession, dir: String): DataFrame = {
    // ONE LSH pass feeds both the cluster labels and the crossing audit
    // (q34's result is an eager localCheckpoint — reusing the frame costs
    // nothing; recomputing it via q110 costs a full shingle→minhash→band
    // pipeline)
    val pairs = q34MinhashLsh(s, dir)
    val folds = dedupClustersFromPairs(s, dir, pairs)
      .withColumn("fold",
        expr("CAST(conv(substr(md5(CAST(canonical_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 5")
          .cast("long"))
      .transform(Materialize.localCheckpoint(_)) // shared by the per-fold census and the audit
    val crossing = pairs
      .join(folds.select(col("doc_id").as("doc_a"), col("fold").as("fa")), Seq("doc_a"))
      .join(folds.select(col("doc_id").as("doc_b"), col("fold").as("fb")), Seq("doc_b"))
      .agg(sum(when(col("fa") =!= col("fb"), 1L).otherwise(0L)).as("n_crossing_pairs"))
      .select(coalesce(col("n_crossing_pairs"), lit(0L)).as("n_crossing_pairs"))
    folds.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canonical_id")).as("n_clusters"))
      .crossJoin(broadcast(crossing))
  }

  /** Cross-source similarity by KMV sketch (Beyer et al. 2007): per-source
    * bottom-64 text-hash sketches → pairwise Jaccard ESTIMATE (matches
    * among the union's k smallest, over the union-sketch size), next to
    * the exact Jaccard so the error stays visible. The 100 TB story: the
    * exact pair overlap needs a corpus-sized self-join per source pair;
    * the sketch path touches the corpus ONCE (one bottom-k aggregation,
    * bounded mergeable state) and the |sources|²-bounded pair math runs
    * on k-length arrays. Union elements present in set A are provably ≤
    * A's k-th minimum, so sketch membership IS set membership — the
    * estimator is deterministic and the DuckDB replay exact. Below k the
    * union sketch is the full union and the estimate degenerates to
    * exact (the sf0.01 path; sf0.1 exercises the true sketch path). */
  def q269KmvSourceJaccard(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val sk = Tables.documents(s, dir)
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.BottomK.bottomK(col("h"), k).as("sk"))
      .transform(Materialize.localCheckpoint(_)) // ≤ |sources| rows
    val st = Tables.documents(s, dir)
      .select(col("source"), col("text")).distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = st.as("a").join(st.as("b"),
        col("a.text") === col("b.text") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    sk.as("x").join(sk.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        col("x.sk").as("ska"), col("y.sk").as("skb"))
      .withColumn("u",
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("matches",
        size(array_intersect(col("u"),
          array_intersect(col("ska"), col("skb")))).cast("long"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("src_a"), col("src_b"),
        round(col("matches") / size(col("u")).cast("double"), 4)
          .as("kmv_jaccard"),
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))
          .cast("double"), 4).as("exact_jaccard"))
  }

  /** Train/test split-leakage audit: near-duplicate pairs (q34's LSH
    * candidate set) whose members land on DIFFERENT sides of the q58
    * hash split — the contamination mode a random split always has on an
    * un-deduplicated corpus (a test doc near-identical to a train doc
    * inflates eval). Reports the split×split pair matrix with a leaked
    * flag per cell. Pair-bound: the corpus appears only in the split
    * assignment (two doc_id-keyed joins against the bounded pair list);
    * the fix it motivates is the q110→q151 dedup-first flow. */
  def q271SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr("conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)")
      .cast("long") % 100
    val sp = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test").as("split"))
    q34MinhashLsh(s, dir)
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_lo") =!= col("split_hi"))
  }

  /** Sliding-window chunking (RAG / context-window prep): fixed 32-token
    * windows at stride 24 (8-token overlap so no boundary sentence is
    * lost to retrieval), chunk identity as md5 of the joined window.
    * Start offsets derive from INTEGER arithmetic (last start = the
    * smallest stride multiple covering the tail), the per-doc fan-out is
    * ceil(len/stride)-bounded, and everything stays inside one codegen'd
    * projection — no shuffle at all until a downstream consumer groups.
    * Chunk keys feed q33-style exact dedup or embedding indexing
    * directly. */
  def q272SlidingChunks(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("toks"),
        explode(expr(
          "sequence(0, greatest(0, ((size(toks) - 9) div 24) * 24), 24)"))
          .as("start_tok"))
      .withColumn("chunk", expr("slice(toks, start_tok + 1, 32)"))
      .select(col("doc_id"), (col("start_tok") / 24).cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(col("chunk")).cast("long").as("n_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))

  /** BPE tokenizer TRAINING loop (Sennrich et al. 2016) — 8 greedy merges,
    * the full algorithm q130's single pair-census is one step of. The
    * 100 TB insight this implements: BPE trains on the word-TYPE table
    * (word → corpus count), so the corpus is touched exactly ONCE (the
    * initial word count); every merge round shuffles only the
    * vocabulary-bounded type table. Per round: adjacent-pair census
    * weighted by type count → argmax (count desc, pair asc — the
    * deterministic tiebreak) via a bounded 1-row driver read (q186's
    * convention) → greedy left-to-right non-overlapping merge applied as
    * a codegen'd string `replace` over a double-space-delimited token
    * string (proven equivalent to the scan-merge in BpeSpec), then a
    * re-normalize + lineage cut. Output: the 8 learned merges with their
    * winning pair counts — the artifact a tokenizer ships. */
  /** " t1  t2  ...  tn " — every token owns BOTH its neighbors' separator
    * spaces, so replacing " a  b " with " ab " merges back-to-back
    * occurrences exactly like the left-to-right greedy scan (BpeSpec
    * proves the equivalence property over adversarial token streams). */
  private[graft] def bpePadWs(tokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(" "), concat_ws("  ", tokens), lit(" "))

  /** One greedy BPE merge of the pair (a, b) over a [[bpePadWs]] string,
    * re-normalized so the output is again a valid padded token string. */
  private[graft] def bpeMergeWs(ws: org.apache.spark.sql.Column, a: String, b: String): org.apache.spark.sql.Column =
    bpePadWs(filter(
      split(org.apache.spark.sql.functions.replace(ws,
        lit(s" $a  $b "), lit(s" $a$b ")), " "),
      t => t =!= ""))

  /** Library form: the greedy merge loop over a caller-supplied
    * (w, cnt) word-type frame (the q193 parameterization convention —
    * q273 is the corpus binding). Returns the learned merge table
    * (merge_idx, lhs, rhs, merged, n). */
  private[graft] def bpeTrain(s: SparkSession, wordCounts: DataFrame,
                              rounds: Int): DataFrame = {
    var types = wordCounts
      .select(bpePadWs(
        expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"))
        .as("ws"), col("cnt"))
      .transform(Materialize.localCheckpoint(_))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val best = types
        .select(col("cnt"), expr("filter(split(ws, ' '), t -> t <> '')").as("tk"))
        .select(col("cnt"), explode(expr(
          "IF(size(tk) >= 2, transform(sequence(1, size(tk) - 1), " +
            "i -> struct(tk[i-1] AS a, tk[i] AS b)), " +
            "CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect()(0) // bounded 1-row read per round
      val (a, b, n) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r.toLong, a, b, n))
      types = types
        .withColumn("ws", bpeMergeWs(col("ws"), a, b))
        .transform(Materialize.localCheckpoint(_)) // per-round lineage cut on the type table
    }
    import s.implicits._
    merges.toSeq.map { case (i, a, b, n) => (i, a, b, a + b, n) }
      .toDF("merge_idx", "lhs", "rhs", "merged", "n")
  }

  def q273BpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrain(s, docs(s, dir)
      .select(explode(col("toks")).as("w")).filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")), rounds = 8)

  private val bpeOracleSql: String = {
    val sb = new StringBuilder
    sb ++= """WITH t0 AS (
        SELECT ' ' || array_to_string(
                 list_transform(range(1, len(w) + 1), i -> w[i:i]), '  ')
               || ' ' AS ws, cnt
        FROM (SELECT t.token AS w, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS token
                    FROM documents) t
              WHERE t.token <> '' GROUP BY 1))"""
    for (r <- 1 to 8) {
      sb ++= s""", p$r AS (
          SELECT pr.a AS a, pr.b AS b, CAST(sum(cnt) AS BIGINT) AS n
          FROM (SELECT cnt,
                  unnest(list_transform(range(1, len(tk)),
                    i -> {'a': tk[i], 'b': tk[i + 1]})) AS pr
                FROM (SELECT cnt,
                        list_filter(string_split(ws, ' '), x -> x <> '') AS tk
                      FROM t${r - 1}))
          GROUP BY 1, 2),
        b$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
        t$r AS (SELECT ' ' || array_to_string(list_filter(string_split(
                  replace(ws, ' '||bb.a||'  '||bb.b||' ', ' '||bb.a||bb.b||' '),
                  ' '), x -> x <> ''), '  ') || ' ' AS ws, cnt
                FROM t${r - 1}, b$r bb)"""
    }
    sb ++= " SELECT * FROM (" + (1 to 8).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_idx, a AS lhs, b AS rhs, " +
        s"a||b AS merged, n FROM b$r").mkString(" UNION ALL ") + ")"
    sb.toString
  }

  /** Inverted-index build — the artifact BM25/retrieval serves from:
    * per term, the doc-sorted posting list with within-doc positions
    * ("doc:p1|p2"), plus df/cf and the id span (the delta-encoding
    * budget). The postings_md5 column pins the index BYTES, not just
    * the stats — a reproducible-artifact proof: any engine, run, or
    * partitioning that builds the same corpus index hashes identically.
    * One (term, doc) aggregation + one term rollup, both map-side
    * combined; positions ride as sorted arrays, never strings until
    * the final render. Top-20 by cf (the vocabulary-table convention). */
  def q284InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val px = docs(s, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "t")))
      .filter(col("t") =!= "")
    px.groupBy(col("t"), col("doc_id"))
      .agg(sort_array(collect_list(col("p"))).as("ps"),
        count(lit(1)).as("c"))
      .withColumn("entry", concat(col("doc_id").cast("string"), lit(":"),
        concat_ws("|", expr("transform(ps, x -> CAST(x AS STRING))"))))
      .groupBy(col("t").as("term"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
        md5(concat_ws(",", expr(
          "transform(sort_array(collect_list(struct(doc_id, entry))), x -> x.entry)")))
          .as("postings_md5"),
        (max(col("doc_id")) - min(col("doc_id"))).as("id_span"))
      .orderBy(col("cf").desc, col("term")).limit(20)
  }

  /** Positional phrase query — what q284's positions are FOR: evaluate
    * the top-3 corpus bigrams as phrase queries through the classic
    * postings position-adjacency join (postings(t1) ⋈ postings(t2) on
    * (doc, p+1)), reporting per-phrase document and occurrence counts.
    * The DuckDB oracle evaluates the same phrases by a DIRECT adjacent-
    * token scan — the hash-match is the proof that index-served phrase
    * evaluation equals a corpus scan. Scale shape: the left postings
    * prune by the broadcast 3-term set before any join; the adjacency
    * join is keyed on (doc, position) — co-partitioned, never a
    * per-doc cross product. */
  def q285PhraseQuery(s: SparkSession, dir: String): DataFrame = {
    val bigrams =
      "IF(size(toks) >= 2, transform(sequence(0, size(toks)-2), i -> concat_ws(' ', toks[i], toks[i+1])), CAST(array() AS ARRAY<STRING>))"
    val top3 = docs(s, dir)
      .select(explode(expr(bigrams)).as("bg"))
      // a bigram containing an empty token (double-spaced text) can't be
      // served by the postings index (px drops empty terms) — exclude it
      // from the top-3 on BOTH engines rather than quietly returning 0
      .filter(!col("bg").startsWith(" ") && !col("bg").endsWith(" "))
      .groupBy(col("bg")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg")).limit(3)
      .select(col("bg").as("phrase"),
        split(col("bg"), " ")(0).as("t1"), split(col("bg"), " ")(1).as("t2"))
    val px = docs(s, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "t")))
      .filter(col("t") =!= "")
    px.as("x").join(broadcast(top3), col("x.t") === col("t1"))
      .join(px.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("y.p") === col("x.p") + 1 && col("y.t") === col("t2"))
      .groupBy(col("phrase"))
      .agg(countDistinct(col("x.doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
  }

  /** Survivorship-policy comparison — the dedup decision q151 fixes to
    * min-id, opened up: for every near-dup cluster (q110, size ≥ 2) the
    * representative under three policies — smallest id (stable),
    * longest text (keep the superset document), highest token entropy
    * (keep the most diverse content, q280's scorer) — plus how many
    * DISTINCT docs the policies elect. The disagreement count is the
    * data a corpus owner needs before committing to a policy: when it
    * is high, "which copy survives" materially changes the corpus.
    * Cluster-bounded work after one corpus pass for lengths/entropy;
    * every ordering is (rounded score, doc_id) — deterministic. */
  def q281Survivorship(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = q110DedupClusters(s, dir)
    val ent = q280TokenEntropy(s, dir).select(col("doc_id"), col("entropy"))
    val m = canon
      .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .join(ent, Seq("doc_id"))
    def pick(w: org.apache.spark.sql.expressions.WindowSpec, name: String) =
      first(col("doc_id")).over(w).as(name)
    val c = col("canonical_id")
    val byId = Window.partitionBy(c).orderBy(col("doc_id").asc)
    val byLen = Window.partitionBy(c)
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val byEnt = Window.partitionBy(c)
      .orderBy(col("entropy").desc, col("doc_id").asc)
    m.select(c, pick(byId, "rep_min_id"), pick(byLen, "rep_longest"),
        pick(byEnt, "rep_max_entropy"))
      .groupBy(c)
      .agg(count(lit(1)).as("cluster_size"),
        max(col("rep_min_id")).as("rep_min_id"),
        max(col("rep_longest")).as("rep_longest"),
        max(col("rep_max_entropy")).as("rep_max_entropy"))
      .filter(col("cluster_size") >= 2)
      .withColumn("n_distinct_reps",
        size(array_distinct(array(col("rep_min_id"), col("rep_longest"),
          col("rep_max_entropy")))).cast("long"))
  }

  /** Eval-overlap fraction — q116's decontamination hit count refined to
    * the THRESHOLD DECISION real pipelines apply: per candidate doc, the
    * fraction of its distinct 5-grams that are eval grams, with a
    * contaminated flag at ≥ 10% decided by the integer cross-
    * multiplication 10·hits ≥ n_grams (no float in the flag). Zero-hit
    * docs appear with fraction 0 (left join), because the AUDIT view of
    * decontamination must cover the whole corpus, not just offenders. */
  def q282OverlapFraction(s: SparkSession, dir: String): DataFrame = {
    val g = docs(s, dir)
      .select(col("doc_id"), explode(expr(fiveGrams)).as("g"))
    val evalGrams = g.filter(col("doc_id") < 20).select(col("g")).distinct()
    val cand = g.filter(col("doc_id") >= 20)
    val tot = cand.groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_grams"))
    val hits = cand.join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
    tot.join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        round(col("n_hits") / col("n_grams").cast("double"), 4).as("frac"),
        (col("n_hits") * 10 >= col("n_grams")).as("contaminated"))
  }

  /** Token-entropy quality filter (the CCNet/Gopher-style low-diversity
    * gate): per-document Shannon entropy of the token distribution,
    * H = ln n − (Σ c·ln c)/n, with a low-entropy flag for the repeated-
    * boilerplate / keyword-stuffing failure mode length and stopword
    * ratios miss. One (doc, term) aggregation + one per-doc rollup —
    * two map-side-combined shuffles, no windows. Determinism: each ln
    * quantizes to integer micro-units BEFORE the weighted sum, so
    * score_micro = n·⌊ln n·10⁶⌉ − Σ c·⌊ln c·10⁶⌉ is an exact integer
    * and the flag is the integer comparison score_micro < 2·10⁶·n
    * (H < 2 nats) — no float reaches a decision. */
  def q280TokenEntropy(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_toks"),
        sum(col("c") * expr("CAST(round(ln(c) * 1000000) AS BIGINT)")).as("sc"))
      .withColumn("score_micro",
        col("n_toks") * expr("CAST(round(ln(n_toks) * 1000000) AS BIGINT)")
          - col("sc"))
      .select(col("doc_id"), col("n_toks"),
        round(col("score_micro") / (col("n_toks") * lit(1000000.0)), 6)
          .as("entropy"),
        (col("score_micro") < col("n_toks") * lit(2000000L)).as("low_entropy"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): per document, the RIGHTMOST-minimum 3-shingle
    * hash in every sliding window of w=4 hash positions, deduplicated —
    * the fingerprint-selection scheme with the positional GUARANTEE
    * MinHash lacks: any shared substring of ≥ w+k−1 tokens shares a
    * fingerprint (local plagiarism/boilerplate detection, not just
    * whole-document similarity). Pairs sharing ≥ 2 distinct fingerprints
    * are reported with the shared count.
    *
    * Scale shape: hashes and the window-min are ONE pass (a frame-bounded
    * window inside the doc partition — no cross-doc shuffle); the
    * (hash, rightmost-pos) argmin is encoded as a single integer key
    * h·2^20 + (2^20−1−i), so the frame min IS the tiebreak (docs must
    * have < 2^20 shingles — chunk longer docs first). The pair stage is
    * a fingerprint-bucket join, bounded like q34's banding (and, like
    * it, cap-able on pathological boilerplate buckets). */
  /** (doc_id, toks) → distinct (doc_id, fph) winnowing fingerprints
    * (w=4 windows over 3-shingle hashes, rightmost-min tiebreak). */
  private[graft] def winnowFingerprints(docsWithToks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = 4
    val dw = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    docsWithToks
      .select(col("doc_id"), posexplode(expr(shingles3)).as(Seq("i", "sh")))
      .withColumn("h",
        expr("CAST(conv(substr(md5(sh), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("key",
        col("h") * lit(1048576L) + (lit(1048575L) - col("i")))
      .withColumn("n", count(lit(1)).over(dw.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("wmin", min(col("key")).over(dw.rowsBetween(0, w - 1)))
      .filter(col("i") <= col("n") - w)
      .select(col("doc_id"), expr("wmin div 1048576").as("fph"))
      .distinct()
  }

  def q276Winnowing(s: SparkSession, dir: String): DataFrame = {
    val fps = winnowFingerprints(docs(s, dir))
      .transform(Materialize.localCheckpoint(_)) // fingerprint table: the shared artifact
    fps.as("a").join(fps.as("b"),
        col("a.fph") === col("b.fph") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** Dedup clustering: MinHash-LSH candidate pairs (q34's pipeline) →
    * connected components → canonical id per document (the component
    * minimum). The step between pair GENERATION and a keep/drop decision:
    * transitive chains (A≈B, B≈C) collapse to one canonical doc even when
    * A and C never shared a bucket ([[graft.plans.ConnectedComponents]]).
    * Documents outside every pair are their own canonical — the output is
    * a total doc_id → canonical_id map, directly joinable as a dedup
    * filter (`keep = doc_id == canonical_id`). */
  def q110DedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersFromPairs(s, dir, q34MinhashLsh(s, dir))

  /** q110's component step over an ALREADY-MATERIALIZED pair frame —
    * the seam that lets composed queries (q275, q279) reuse the one
    * localCheckpoint'ed q34 result for both their pair-level logic and
    * the cluster labels, instead of running the full shingle→minhash→
    * band-join pipeline twice per query (measured ~1 s/extra pass at
    * sf0.1; identical output by construction — same pairs, same CC). */
  private[graft] def dedupClustersFromPairs(s: SparkSession, dir: String,
      pairs: DataFrame): DataFrame =
    graft.plans.ConnectedComponents.labels(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
        Tables.documents(s, dir).select(col("doc_id").as("node")),
        uniqueNodes = true) // doc_id is the table PK — skip the domain distinct
      .select(col("node").as("doc_id"), col("component").as("canonical_id"))

  /** Right-to-be-forgotten propagation through the dedup clusters (the
    * GDPR deletion pass a production corpus must run BEFORE honoring a
    * removal request — dropping the rows is not enough when derived
    * artifacts reference them): given the deletion set (doc_id % 17 = 0,
    * the deterministic fixture), the near-dup graph RECLUSTERS over the
    * surviving subgraph — a deleted doc that bridged two groups SPLITS
    * its old cluster — and every affected cluster reports members
    * before, deletions, surviving component count (0 = cluster fully
    * erased, >1 = split), and the re-elected representative. Two CC
    * runs over the hash-bounded pair graph; the corpus-sized work is
    * the one LSH pass both share. */
  def q212DeletionPropagation(s: SparkSession, dir: String): DataFrame = {
    val allDocs = Tables.documents(s, dir).select(col("doc_id").as("node"))
    val pairs = q34MinhashLsh(s, dir)
    // full frame feeds three consumers (stats, affected set, recluster
    // input) — node-sized, cut once
    val full = graft.plans.ConnectedComponents.labels(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), allDocs,
        uniqueNodes = true) // doc_id is the table PK
      .withColumn("deleted", col("node") % 17 === 0)
      .transform(Materialize.localCheckpoint(_))
    // the RECLUSTER runs only over AFFECTED clusters' survivors: a
    // cluster with no deletion keeps its labels by definition, so the
    // second CC's input is deletion-adjacent, not corpus-sized (pair
    // endpoints always share a component, so one semi-join bounds both)
    val affected = full.filter(col("deleted"))
      .select(col("component")).distinct()
    val affNodes = full.filter(!col("deleted"))
      .join(affected, Seq("component"), "left_semi")
      .select(col("node"))
    val affPairs = pairs
      .filter(col("doc_a") % 17 =!= 0 && col("doc_b") % 17 =!= 0)
      .join(affNodes.select(col("node").as("doc_a")), Seq("doc_a"), "left_semi")
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val after = graft.plans.ConnectedComponents.labels(affPairs, affNodes,
      uniqueNodes = true) // affNodes filters CC output — one row per node
    val stats = full.groupBy(col("component").as("old_cluster"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("deleted"), 1L).otherwise(0L)).as("n_deleted"))
      .filter(col("n_deleted") > 0)
    val aft = full.filter(!col("deleted"))
      .join(after.select(col("node"), col("component").as("new_comp")), "node")
      .groupBy(col("component").as("old_cluster"))
      .agg(countDistinct(col("new_comp")).as("n_components_after"),
        min(col("node")).as("new_rep"))
    stats.join(aft, Seq("old_cluster"), "left")
      .na.fill(0L, Seq("n_components_after"))
      .select(col("old_cluster"), col("n_before"), col("n_deleted"),
        col("n_components_after"), col("new_rep"))
  }

  /** Epoch-seat APPORTIONMENT — the execution step of corpus mixing
    * (q124 sets temperature weights, q178 allocates against capacity;
    * this turns weights into the integer per-source sample counts one
    * training epoch actually draws): B = 1e6 slots split proportional
    * to w_s = √mass_s by the largest-remainder (Hamilton) method,
    * computed INTEGER-EXACTLY — weights quantize to BIGINT once
    * (round(√mass·1e6), the only float step, deterministic IEEE), then
    * floor seats are `B·w6 div W`, remainders `(B·w6) mod W`, and the
    * leftover seats go to the largest remainders (source tiebreak) —
    * so Σseats = B holds by construction on both engines, no float
    * ranking anywhere (the q178 cross-multiplication discipline).
    * Everything after the one per-source aggregation runs on the
    * strata table; the ranking window is strata-sized (the waterfill
    * precedent — bucket the cumsum past ~10k strata). */
  def q219EpochSchedule(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 1000000L
    // strata-sized: cut lineage so tot/quota/deficit (4 references to
    // this subtree) cost ONE corpus aggregation, not one each
    val strata = Tables.documents(s, dir)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("mass"))
      .withColumn("w6",
        round(sqrt(col("mass").cast("double")) * 1e6, 0).cast("long"))
      // persist, NOT localCheckpoint: same materialize-once economics,
      // but the cached plan keeps the aggregate provenance visible, so
      // the posture audit can PROVE the ranking window below reads a
      // strata-bounded table (a checkpoint erases it into a bare RDD scan)
      .transform(Materialize.persist(_))
    val tot = strata.agg(sum(col("w6")).as("wtot"))
    val quota = strata.crossJoin(broadcast(tot))
      .withColumn("fl", expr(s"$B * w6 div wtot"))
      .withColumn("r", expr(s"($B * w6) % wtot"))
    val deficit = quota.agg((lit(B) - sum(col("fl"))).as("deficit"))
    quota.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("r").desc, col("source").asc)))
      .withColumn("seats",
        col("fl") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
      .select(col("source"), col("mass"), col("seats"))
  }

  /** BPE tokenizer APPLICATION (q130 is the training inner loop; this
    * runs a learned merge list over the corpus — the "tokenize 100 TB"
    * pass itself): every non-space char wraps as a `{c}` symbol, and
    * each merge `(a,b)` in priority order rewrites `{a}{b}` → `{ab}`
    * exhaustively via literal `replace` (left-to-right, non-overlap —
    * the classic BPE apply order). The brace-wrapping makes symbol
    * boundaries unambiguous (a merge can never fire on a symbol
    * PREFIX: `{a}{bc}` does not contain `{a}{b}`), adjacent pairs keep
    * their own interior separators so runs merge correctly, and space
    * stays unwrapped so merges never cross token boundaries. The whole
    * pass is chained codegen'd string functions over the text column —
    * linear, shuffle-free, no HOF lambdas (the aHash lesson), no UDF.
    * Fixture constraint: symbols must not contain brace chars (a
    * production build swaps the brackets for /).
    * Output per doc: original char count, piece count after merges,
    * and how many merges fired (chars − pieces). */
  /** The encode column: text → brace-wrapped symbols → merge rewrites
    * in priority order. Shared by q218 and the semantics spec. */
  private[graft] def bpeEncoded(text: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val wrapped = regexp_replace(text, "([^ ])", "{$1}")
    merges.foldLeft(wrapped) { case (c, (a, b)) =>
      org.apache.spark.sql.functions.call_function("replace",
        c, lit(s"{$a}{$b}"), lit(s"{$a$b}"))
    }
  }

  def q218BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val enc = bpeEncoded(col("text"),
      Seq(("t", "h"), ("th", "e"), ("e", "r")))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), enc.as("enc"))
      .select(col("doc_id"),
        (length(regexp_replace(col("text"), " ", ""))).cast("long")
          .as("n_chars"),
        (length(col("enc")) - length(regexp_replace(col("enc"), "\\{", "")))
          .cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_chars"), col("n_pieces"),
        (col("n_chars") - col("n_pieces")).as("n_merged"))
  }

  /** BPE merge-TRAINING loop — q130 is one step, q218 applies a learned
    * list; this LEARNS the list (Sennrich et al. 2016: repeatedly merge
    * the most frequent adjacent symbol pair). The loop trains over the
    * token-TYPE frequency table, not token occurrences — the corpus is
    * touched exactly once (the word-count groupBy), and every merge
    * round after that is vocabulary-sized: one pair-explode shuffle
    * over the word table plus a 1-row argmax driver read (the bounded-
    * read class of the closure/k-means convergence probes). Applying
    * the chosen merge is a map over the word table; loop-carried state
    * is localCheckpoint'ed per round (the q186 lineage-cut discipline).
    * Determinism: the argmax tiebreak is (count desc, left asc, right
    * asc) — on round 1 this coincides with q130's top-1 pair, which the
    * spec pins. Symbol boundaries use the q218 brace convention
    * (symbols must not contain brace chars — same fixture caveat).
    * Output: the learned merge table (round, lhs, rhs, merged,
    * pair_count), replayed verbatim in DuckDB as chained CTEs. */
  def q225BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    var words = docs(s, dir)
      .select(explode(col("toks")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(regexp_replace(col("tok"), "(.)", "{$1}").as("enc"), col("n"))
      .transform(Materialize.localCheckpoint(_))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to 3) {
      val best = words
        .select(col("n"),
          split(regexp_replace(col("enc"), "^\\{|\\}$", ""), "\\}\\{").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms)-1), i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()(0) // bounded 1-row driver read per round
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((round, a, b, cnt))
      words = words.select(
        call_function("replace", col("enc"), lit(s"{$a}{$b}"), lit(s"{$a$b}")).as("enc"),
        col("n")).transform(Materialize.localCheckpoint(_))
    }
    merges.toSeq.toDF("round", "lhs", "rhs", "pair_count")
      .select(col("round").cast("int").as("round"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_count"))
  }

  /** Tokenizer vocabulary-coverage audit (the go/no-go check before
    * committing a tokenizer to a corpus mix: what fraction of each
    * source's tokens fall outside the vocabulary?): vocab = global
    * top-200 tokens (count desc, token asc — deterministic), then one
    * more pass counts per-source OOV hits against the broadcast vocab.
    *
    * 100 TB posture: ONE persisted token explode feeds both consumers
    * (the DSIR single-scan discipline); the vocab is a 200-row
    * broadcast; per-source totals are a partial-agg groupBy. The rate
    * divides two exact BIGINTs in IEEE double — deterministic across
    * engines, so round(…,6) is safe. */
  def q224OovCoverage(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("source"), explode(col("toks")).as("tok"))
      .transform(Materialize.persist(_))
    tok.count() // materialize once for both consumers
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(200)
      .select(col("tok"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
  }

  /** HTML → text extraction (the step between WARC ingest and every
    * text operator on this board — what trafilatura/jusText do in a
    * crawl pipeline, reduced to its deterministic core): drop
    * script/style blocks WITH their contents, strip remaining tags,
    * decode the five core entities, collapse whitespace. All five
    * passes are chained regexp_replace in the RE2 ∩ java.regex common
    * dialect (the q160 redaction convention) — codegen'd, shuffle-free,
    * linear in the corpus. The fixture wraps each doc's tokens in a
    * deterministic HTML template (title/style/script/h1/two paragraphs
    * + an entity), so the report (extracted text hash + token count)
    * proves tag/script removal AND content preservation. */
  def q217HtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("half",
      (size(col("toks")) / 2).cast("int"))
    val html = concat(
      lit("<html><head><title>doc "), col("doc_id"),
      lit("</title><style>p{color:red}</style>"),
      lit("<script>var x = \"1 &lt; 2\";</script></head>"),
      lit("<body><h1>Doc "), col("doc_id"), lit("</h1><p>"),
      concat_ws(" ", expr("slice(toks, 1, half)")),
      lit("</p><p class=\"b\">"),
      concat_ws(" ", expr("slice(toks, half + 1, size(toks) - half)")),
      lit(" &amp; more</p></body></html>"))
    val extracted = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      c => regexp_replace(c, "<script[^>]*>[^<]*</script>", " "),
      c => regexp_replace(c, "<style[^>]*>[^<]*</style>", " "),
      c => regexp_replace(c, "<[^>]+>", " "),
      c => regexp_replace(c, "&amp;", "&"),
      c => regexp_replace(c, "&lt;", "<"),
      c => regexp_replace(c, "&gt;", ">"),
      c => regexp_replace(c, "&quot;", "\""),
      c => regexp_replace(c, "&#39;", "'"),
      c => regexp_replace(c, "\\s+", " ")
    ).foldLeft(html: org.apache.spark.sql.Column)((c, f) => f(c))
    d.select(col("doc_id"),
      trim(extracted).as("clean"))
      .select(col("doc_id"), md5(col("clean")).as("text_md5"),
        size(split(col("clean"), " ")).cast("long").as("n_toks"))
  }

  /** Incremental ARTIFACT maintenance — the 100 TB pattern behind every
    * derived table (vocabulary, df counts, n-gram models): when a crawl
    * snapshot updates, recompute the vocabulary from the CHANGED docs
    * only, not the corpus. Snapshots derive deterministically from the
    * fixture (doc_id%10=7 added, %10=3 removed, %5=0 edited by an
    * appended token); the delta pass explodes terms of
    * added/removed/edited docs alone (±1 occurrence deltas, one
    * term-key shuffle over the CHANGED-doc token stream), then patches
    * the old vocabulary artifact by addition. The ORACLE recomputes
    * both snapshots' vocabularies in full and diffs them — so the
    * hash-match IS the proof that the delta path equals the full
    * recompute. Output: every term whose count moved. */
  def q216VocabDelta(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("toks"),
      when(col("doc_id") % 5 === 0,
        expr("array_append(toks, 'graftedit')")).otherwise(col("toks"))
        .as("new_toks"))
    // the OLD vocabulary artifact (precomputed in production; built
    // here so the query is self-contained — q141's index-side move)
    val oldCf = d.filter(col("doc_id") % 10 =!= 7)
      .select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("old_cf"))
    // ±1 deltas from CHANGED docs only
    val added = d.filter(col("doc_id") % 10 === 7)
      .select(explode(col("new_toks")).as("term"), lit(1L).as("dc"))
    val removed = d.filter(col("doc_id") % 10 === 3)
      .select(explode(col("toks")).as("term"), lit(-1L).as("dc"))
    val editedNew = d.filter(col("doc_id") % 5 === 0)
      .select(explode(col("new_toks")).as("term"), lit(1L).as("dc"))
    val editedOld = d.filter(col("doc_id") % 5 === 0)
      .select(explode(col("toks")).as("term"), lit(-1L).as("dc"))
    val delta = added.unionByName(removed).unionByName(editedNew)
      .unionByName(editedOld)
      .groupBy(col("term")).agg(sum(col("dc")).as("delta"))
      .filter(col("delta") =!= 0)
    delta.join(oldCf, Seq("term"), "left")
      .na.fill(0L, Seq("old_cf"))
      .select(col("term"), col("old_cf"), col("delta"),
        (col("old_cf") + col("delta")).as("new_cf"))
  }

  /** C4-style cleaning pass, all codegen'd HOFs: lowercase, drop tokens
    * shorter than 3 chars (stopword-ish noise), then drop documents whose
    * cleaned token count falls under 30 — the filter-then-threshold shape
    * every pretraining corpus pass applies. Linear, no shuffle. */
  def q111CleanText(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("ctoks",
        expr("filter(transform(toks, t -> lower(t)), t -> length(t) >= 3)"))
      .filter(size(col("ctoks")) >= 30)
      .select(col("doc_id"), concat_ws(" ", col("ctoks")).as("clean_text"),
        size(col("ctoks")).cast("long").as("n_toks"))

  /** Deterministic stratified sampling: per-language keep rates (the
    * pretraining language-mix rebalance — halve the overrepresented 'en',
    * keep the rest). Hash-bucket assignment, never rand(): re-runs, late
    * rows, and distributed execution all agree on the sample. */
  def q112StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr("conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)")
      .cast("long") % 100
    val rate = when(col("lang") === "en", 50).otherwise(100)
    Tables.documents(s, dir)
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"))
  }

  /** Sequence packing: assign documents (in doc_id order) to fixed
    * token-budget training sequences — pack = which 512-token bin the
    * document STARTS in under a running token total. The prefix sum is
    * computed scale-correctly: per-bucket partial sums roll up through a
    * window over the (tiny) bucket-summary table, and the per-row cumsum
    * window partitions by bucket — every window here is either
    * bucket-partitioned (parallel) or over one row per bucket. No global
    * single-partition window (the q11 scale-killer this replaces). */
  def q113SequencePacking(s: SparkSession, dir: String): DataFrame =
    packed(s, dir).select(col("doc_id"), col("pack_id"))

  /** (doc_id, n_toks, pack_id) via the distributed prefix sum. */
  private def packed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 512L
    // bucket width is a pure tuning knob — the prefix sum is exact at any
    // width; size it so the offset table stays driver-small (100 here for
    // the test corpus; ~1e6 at 100 TB keeps 1e9 docs to 1e3 offset rows)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("bucket", (col("doc_id") / 100L).cast("long"))
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val byBucket = Window.orderBy(col("bucket")) // one row per bucket: tiny
    val offsets = d.groupBy(col("bucket")).agg(sum(col("n_toks")).as("btoks"))
      .withColumn("offset",
        coalesce(sum(col("btoks")).over(byBucket) - col("btoks"), lit(0L)))
      .select(col("bucket"), col("offset"))
    d.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("offset") + sum(col("n_toks")).over(inBucket))
      .select(col("doc_id"), col("n_toks"),
        ((col("cum") - col("n_toks")) / budget).cast("long").as("pack_id"))
  }

  /** Distributed LOGISTIC-REGRESSION training loop — the quality-
    * classifier shape (fastText/CCNet-style doc scoring reduced to its
    * engine skeleton): y = (lang = 'en'), two deterministic rounded
    * features (scaled length, type-token ratio), full-batch gradient
    * descent for 3 fixed steps at lr = 0.5. Per step the gradient is ONE
    * partial-aggregable corpus scan (per-doc residuals round to 8dp,
    * the three avg-gradients to 6dp, weights to 6dp before any further
    * use — the q186/q198 round-before-use discipline), and the
    * loop-carried state is a 3-double weight vector read on the driver
    * (the bounded-read class of the closure's convergence probes). The
    * whole trajectory replays verbatim in DuckDB as chained CTEs;
    * z-sign prediction keeps the final accuracy integer-exact.
    * Output: final weights + training accuracy. */
  def q209LogregTrain(s: SparkSession, dir: String): DataFrame = {
    val f = docs(s, dir)
      .select(
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        round(size(col("toks")) / lit(100.0), 6).as("x1"),
        round(size(array_distinct(col("toks"))) /
          size(col("toks")).cast("double"), 6).as("x2"))
      .transform(Materialize.persist(_))
    f.count()
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var w = Array(0.0, 0.0, 0.0)
    for (_ <- 1 to 3) {
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      val r = round(lit(1.0) / (lit(1.0) + exp(-z)) - col("y"), 8)
      val g = f.agg(round(avg(r), 6).as("g0"),
        round(avg(r * col("x1")), 6).as("g1"),
        round(avg(r * col("x2")), 6).as("g2")).collect()(0)
      w = Array(r6(w(0) - 0.5 * g.getDouble(0)),
        r6(w(1) - 0.5 * g.getDouble(1)),
        r6(w(2) - 0.5 * g.getDouble(2)))
    }
    val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
    f.agg(
        sum(when((z >= 0) === (col("y") === 1.0), 1L).otherwise(0L))
          .as("n_correct"),
        count(lit(1)).as("n"))
      .withColumn("w0", lit(w(0))).withColumn("w1", lit(w(1)))
      .withColumn("w2", lit(w(2)))
      .select(col("w0"), col("w1"), col("w2"), col("n_correct"), col("n"))
  }

  /** Fixed CONTEXT-WINDOW chunking of the concatenated token stream —
    * the GPT-pretraining "concat docs (in doc order), cut every C
    * tokens" layout, where windows CROSS document boundaries (q113's
    * packing never splits a doc; this always cuts at C). Each doc's
    * global token span [start, start+n) comes from the same distributed
    * prefix sum as q113 (bucket partials + a tiny per-bucket offset
    * window — no corpus-wide single-partition window), a doc then emits
    * one row per window it overlaps (⌈n/C⌉+1 rows max — the explode is
    * span-bounded, never corpus²), and the per-window report (docs
    * spanned, token fill, first/last doc) aggregates on the window id.
    * A training job reads this to size epochs and to audit how many
    * windows straddle documents. */
  def q208ContextWindows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val C = 128L
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .filter(col("n_toks") > 0)
      .withColumn("bucket", (col("doc_id") / 100L).cast("long"))
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val byBucket = Window.orderBy(col("bucket")) // one row per bucket: tiny
    val offsets = d.groupBy(col("bucket")).agg(sum(col("n_toks")).as("btoks"))
      .withColumn("offset",
        coalesce(sum(col("btoks")).over(byBucket) - col("btoks"), lit(0L)))
      .select(col("bucket"), col("offset"))
    d.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("offset") + sum(col("n_toks")).over(inBucket))
      .withColumn("start", col("cum") - col("n_toks"))
      .select(col("doc_id"), col("start"), col("cum"),
        explode(expr(s"sequence(start div $C, (cum - 1) div $C)")).as("w"))
      .groupBy(col("w").as("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("cum"), (col("w") + 1) * C) -
          greatest(col("start"), col("w") * C)).as("n_toks"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Packing-efficiency report over q113's assignment: per-pack token
    * fill vs the 512 budget, aggregated to the one-row summary a training
    * job reads before accepting the layout. Fill ratios divide by a power
    * of two, so every per-pack fill is EXACT in binary floating point and
    * the averages are order-independent — bit-identical cross-engine with
    * no rounding traps. */
  def q133PackingEfficiency(s: SparkSession, dir: String): DataFrame =
    packed(s, dir)
      .groupBy(col("pack_id")).agg(sum(col("n_toks")).as("toks"))
      .agg(count(lit(1)).as("n_packs"),
        round(avg(col("toks") / 512.0), 4).as("avg_fill"),
        round(min(col("toks") / 512.0), 4).as("min_fill"),
        round(max(col("toks") / 512.0), 4).as("max_fill"))

  /** Within-document repetition score (a standard quality signal): the
    * most frequent bigram's share of all bigram occurrences. Integer-
    * derived ratio — bit-exact as a double on both engines. */
  def q114Repetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-2), i -> concat_ws(' ', toks[i], toks[i+1]))")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("c")) / sum(col("c")), 4).as("rep_score"),
        sum(col("c")).as("n_bigrams"))

  /** Benchmark decontamination: flag training documents sharing any
    * word 5-gram with the evaluation set (docs 0-19 stand in for the
    * benchmark corpus). The eval n-gram set is tiny relative to the
    * corpus — distinct + broadcast — so the contamination check is ONE
    * broadcast hash join over the exploded train n-grams; at 100 TB the
    * train side streams, nothing shuffles. The real-corpus knob is the
    * n-gram order (13 is the usual published choice; 5 here scales to the
    * 56-token synthetic docs). */
  def q116Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val g = docs(s, dir).select(col("doc_id"), explode(expr(fiveGrams)).as("g"))
    val evalGrams = g.filter(col("doc_id") < 20).select(col("g")).distinct()
    g.filter(col("doc_id") >= 20)
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
  }

  /** End-to-end corpus-build funnel — the composition proof: quality
    * gate (q40's score) → exact dedup (first-occurrence-wins among
    * survivors, q33's content key) → eval-set decontamination (q116's
    * 5-gram join) → deterministic hash sampling (q58/q176's md5 bucket),
    * each stage defined ON the previous stage's survivors, reported as
    * per-source counts at every gate. One quality/dedup pass over the
    * corpus (the content-key window), one decontamination join (eval
    * grams broadcast), zero extra scans for the sample gate (a codegen
    * hash test). The pipeline stages are the exact oracled semantics of
    * their standalone queries — this query pins that they COMPOSE. */
  def q245CorpusBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nToks = size(col("toks")).cast("long")
    val nStop = expr("size(filter(toks, t -> t IN ('the','a','of','and')))").cast("long")
    val base = docs(s, dir).filter(col("doc_id") >= 20)
      .withColumn("quality",
        round(least(lit(1.0), nToks / 100.0) * (lit(1.0) - nStop / nToks), 4))
      .withColumn("pass_q", col("quality") >= 0.9)
      .withColumn("key", md5(col("text")))
    val wKey = Window.partitionBy(col("key"))
    val canon = base
      .withColumn("canon_id", min(when(col("pass_q"), col("doc_id"))).over(wKey))
      .withColumn("pass_c", col("pass_q") && col("doc_id") === col("canon_id"))
    val g = docs(s, dir).select(col("doc_id"), explode(expr(fiveGrams)).as("g"))
    val evalGrams = g.filter(col("doc_id") < 20).select(col("g")).distinct()
    val dirty = g.filter(col("doc_id") >= 20)
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
      .withColumn("dirty", lit(true))
    canon.join(dirty, Seq("doc_id"), "left")
      .withColumn("pass_d", col("pass_c") && col("dirty").isNull)
      .withColumn("pass_s", col("pass_d") &&
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 10 < 7)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("pass_q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("pass_c"), 1L).otherwise(0L)).as("n_canonical"),
        sum(when(col("pass_d"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("pass_s"), 1L).otherwise(0L)).as("n_sampled"))
  }

  /** Multinomial Naive Bayes TRAINING for a model-based corpus filter —
    * the learned companion to the rule-based quality heuristics
    * (q39/q40), the same shape as the fastText/CCNet-style classifiers
    * LLM corpus builds use: score an expensive target signal on a
    * training slice, DISTILL it into a cheap bag-of-words model, apply
    * the model at full scale. Fixture task: distill q40's oracled
    * quality rule (quality ≥ 0.9) — a label the token stream genuinely
    * determines (the fixture's lang/source labels are token-uniform by
    * construction, so they carry no learnable signal; the held-out
    * accuracy spec pins that this one does).
    *
    * Plan shape — training a bag-of-words model IS an aggregation:
    *  - deterministic 70% train split by the md5 doc_id hash (the q58
    *    convention — replayable on any engine, stable under reshuffles);
    *  - ONE token-key shuffle with map-side partials produces the
    *    per-token class counts (n_pos, n_neg);
    *  - class token totals + vocabulary size are a 1-row broadcast;
    *  - the Laplace-smoothed log-odds weight
    *      w = ln(n_pos+1) − ln(Npos+V) − [ln(n_neg+1) − ln(Nneg+V)]
    *    is a per-row codegen expression over INTEGER arguments, emitted
    *    as integer fixed-point units (round-before-use, quantum
    *    1/[[NbQuantum]]) so every downstream consumer sums longs —
    *    order-independent, hash-matchable.
    * At 100 TB: the corpus appears once, the model is vocab-sized (MB —
    * broadcastable), and nothing iterates — NB training is embarrassingly
    * parallel, which is exactly why corpus pipelines reach for it first. */
  /** q40's quality definition as the training label (shared by q247/q248
    * so model and evaluation can never drift apart). */
  private[graft] def hqLabeled(s: SparkSession, dir: String): DataFrame = {
    val nToks = size(col("toks")).cast("long")
    val nStop = expr("size(filter(toks, t -> t IN ('the','a','of','and')))").cast("long")
    docs(s, dir)
      .withColumn("pos",
        round(least(lit(1.0), nToks / 100.0) * (lit(1.0) - nStop / nToks), 4) >= 0.9)
      .withColumn("train",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 10 < 7)
  }

  def q247NbTrain(s: SparkSession, dir: String): DataFrame =
    nbTrain(hqLabeled(s, dir).filter(col("train"))
      .select(col("pos"), explode(col("toks")).as("token"))
      .filter(col("token") =!= ""))

  /** NB fixed-point quantum. NOT 1e6: a rounded `ln` sits a hash-flip
    * away from disagreeing across engines whenever its unrounded value
    * lands near a .5 boundary of the quantum (at 1e6 the sf0.1 token
    * 'filter' sat 4.9e-4 units from one — a ~1e-9-relative libm
    * divergence between DuckDB builds flips the long). 962000 was
    * chosen by a margin search over every rounding input the NB family
    * produces at sf0.001/0.01/0.1 (weights AND bias): the minimum
    * half-boundary distance is 3.1e-2 units, ~3·10⁶× the worst
    * realistic cross-libm drift of a 1-ulp ln (≈1e-8 units). The
    * NbMarginSpec tripwire re-asserts that margin on every test run. */
  private[graft] val NbQuantum = 962000.0

  /** [[q247NbTrain]]'s core as a library operator over a caller-supplied
    * labeled token stream (pos: Boolean, token: String) — the q193
    * parameterization convention. Returns (token, n_pos, n_neg, w_micro). */
  def nbTrain(tokens: DataFrame): DataFrame = {
    val counts = tokens.groupBy(col("token"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"))
    val totals = counts.agg(sum(col("n_pos")).as("tp"),
      sum(col("n_neg")).as("tn"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("n_pos"), col("n_neg"),
        round((log(col("n_pos") + 1) - log(col("tp") + col("v"))
          - log(col("n_neg") + 1) + log(col("tn") + col("v"))) * NbQuantum)
          .cast("long").as("w_micro"))
  }

  /** Naive Bayes SCORING of the held-out 30% with q247's model — the
    * apply half of the model-based filter. Per doc:
    *   score = bias + Σ_tokens w(token)   (multinomial: every occurrence
    * counts; tokens outside the training vocabulary drop out via the
    * inner join, the standard NB treatment of unseen terms). The bias is
    * the smoothed log doc-class prior. All arithmetic is LONG micro-unit
    * sums — integer-exact, so the result is independent of partitioning
    * and addition order (a float Σ would not be).
    *
    * Plan: held-out docs explode once; the token→weight join is a
    * BROADCAST against the vocab-sized model; one doc-key aggregation
    * re-assembles scores. The model stays an engine-level DataFrame —
    * scoring composes with any upstream (the q141 pattern: artifact
    * tables, not driver state). */
  def q248NbScore(s: SparkSession, dir: String): DataFrame = {
    val labeled = hqLabeled(s, dir)
    val bias = labeled.filter(col("train"))
      .agg((log(sum(when(col("pos"), 1L).otherwise(0L)) + 1)
        - log(sum(when(!col("pos"), 1L).otherwise(0L)) + 1)).as("b"))
      .select(round(col("b") * NbQuantum).cast("long").as("bias_micro"))
    val model = q247NbTrain(s, dir).select(col("token"), col("w_micro"))
    val heldout = labeled.filter(!col("train"))
      .select(col("doc_id"), col("pos").as("hq"), explode(col("toks")).as("token"))
      .filter(col("token") =!= "")
    heldout.join(broadcast(model), Seq("token"))
      .groupBy(col("doc_id"), col("hq"))
      .agg(sum(col("w_micro")).as("sw"))
      .crossJoin(broadcast(bias))
      .select(col("doc_id"), col("hq"),
        (col("bias_micro") + col("sw")).as("score_micro"),
        (col("bias_micro") + col("sw") > 0).as("pred_hq"))
  }

  /** Robust spread per language: median absolute deviation of document
    * length — the outlier-resistant spread statistic (a handful of
    * pathological giant documents move stddev arbitrarily but barely
    * touch MAD), the robust gate's scale estimate for "drop docs beyond
    * k·MAD of the median". Two passes by construction (the per-group
    * median must exist before deviations do): both are exact
    * interpolating percentiles over the group, the second on
    * |n_chars − median| — deviations stay exact because the median of
    * an integer column is at worst a .5 fraction. Flags count docs
    * beyond 3·MAD (integer-scaled comparison: 2·|x−med| > 6·mad in
    * half-units, never a float threshold). */
  def q292RobustSpread(s: SparkSession, dir: String): DataFrame = {
    val med = Tables.documents(s, dir).groupBy(col("lang"))
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val dev = Tables.documents(s, dir).join(broadcast(med), Seq("lang"))
      // 2·|x − med| is an exact integer (med is at worst a .5 fraction)
      .withColumn("dev2",
        abs(col("n_chars") * 2 - (col("med") * 2).cast("long")))
      .transform(Materialize.localCheckpoint(_))
    val mad = dev.groupBy(col("lang"))
      // 4·MAD is again an exact integer (the dev2 median interpolates
      // at worst midway between two integers)
      .agg((expr("percentile(dev2, 0.5)") * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(max(col("med")), 1).as("median"),
        round(max(col("mad4")) / 4.0, 2).as("mad"),
        // |x−med| > 3·MAD ⟺ 2·dev2 > 3·mad4, all integers
        sum(when(col("dev2") * 2 > col("mad4") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Per-source contamination rollup — q282's per-doc eval-overlap audit
    * aggregated to the view a corpus owner signs off on: per source, the
    * candidate count, contaminated count and share, and the worst
    * offender (max fraction, doc_id tiebreak). One join of the per-doc
    * audit against the doc→source projection; the flag logic is q282's
    * integer cross-multiplication, re-derived, not re-decided. */
  def q293ContaminationBySource(s: SparkSession, dir: String): DataFrame = {
    val frac = q282OverlapFraction(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    frac.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        max(struct(col("frac").as("frac"), (-col("doc_id")).as("neg_id")))
          .as("mx"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        round(col("n_contaminated") / col("n_docs").cast("double"), 4)
          .as("contaminated_share"),
        (-col("mx.neg_id")).as("worst_doc"), col("mx.frac").as("worst_frac"))
  }

  /** Top-terms drift between two corpus versions (fixture: even/odd
    * doc_id halves standing in for two dump snapshots): the top-20
    * term lists of each side full-outer-joined on the term, with ranks
    * and collection frequencies from both — the "did the vocabulary
    * shift between dumps?" diff a corpus release gate reads (terms
    * present on one side only, rank migrations). Two term aggregations
    * that share one corpus scan via conditional partial sums — the
    * split rides the SAME shuffle, not two scans. Each top-20 is a
    * TakeOrderedAndProject (q289's pattern — never a global window:
    * at corpus scale the vocabulary is billions of rows and an
    * unpartitioned row_number would pull ALL of them through one
    * task); the ranks 1..20 come from a broadcast self-join over the
    * already-cut 20-row frame, so nothing unbounded ever sorts in one
    * place. */
  def q290TopTermsDrift(s: SparkSession, dir: String): DataFrame = {
    val cf = docs(s, dir)
      .select((col("doc_id") % 2 === 0).as("v1"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t"))
      .agg(sum(when(col("v1"), 1L).otherwise(0L)).as("cf1"),
        sum(when(!col("v1"), 1L).otherwise(0L)).as("cf2"))
      .transform(Materialize.persist(_))
    def top(cfCol: String, rName: String) = {
      val t20 = cf.filter(col(cfCol) > 0)
        .select(col("t"), col(cfCol))
        .orderBy(col(cfCol).desc, col("t")).limit(20)
        .transform(Materialize.localCheckpoint(_)) // ≤20 rows by construction
      // rank within the bounded frame = #members sorting at-or-before —
      // a 20×20 broadcast theta-join, no WindowExec anywhere
      t20.join(broadcast(t20.select(col("t").as("bt"), col(cfCol).as("bcf"))),
          col("bcf") > col(cfCol) ||
            (col("bcf") === col(cfCol) && col("bt") <= col("t")))
        .groupBy(col("t"), col(cfCol))
        .agg(count(lit(1)).as(rName))
    }
    top("cf1", "rank_v1").select(col("t"), col("rank_v1"), col("cf1"))
      .join(top("cf2", "rank_v2").select(col("t"), col("rank_v2"), col("cf2")),
        Seq("t"), "full_outer")
      .select(col("t").as("term"), col("rank_v1"), col("cf1").as("cf_v1"),
        col("rank_v2"), col("cf2").as("cf_v2"))
  }

  /** LSH candidate-quality evaluation — the number every dedup pipeline
    * reports before trusting its blocking scheme: precision and recall
    * of q34's banded candidates against the EXACT Jaccard ≥ 1/2 truth
    * (the banding scheme's own implied threshold, b=4 r=2 → t ≈ 0.5),
    * computed by the integer-exact PPJoin verifier. Both pair sets are
    * pair-bound; the comparison is a join on the pair key. Recall < 1
    * here is not a bug — it is the measured false-negative rate of the
    * banding scheme, the quantity q163's calibration table predicts. */
  def q288LshPrEval(s: SparkSession, dir: String): DataFrame = {
    val td = docs(s, dir)
      .select(col("doc_id"), expr(s"array_distinct($shingles3)").as("td"))
      .transform(Materialize.persist(_))
    td.count()
    val truth = prefixJaccardPairs(td, 1, 2)
      .select(col("doc_a"), col("doc_b")).transform(Materialize.localCheckpoint(_))
    val cand = q34MinhashLsh(s, dir)
    val hits = cand.join(truth, Seq("doc_a", "doc_b"))
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_candidates"), col("n_truth"), col("n_hits"),
        round(col("n_hits") / nullif(col("n_candidates").cast("double"),
          lit(0.0)), 4).as("precision"),
        round(col("n_hits") / nullif(col("n_truth").cast("double"),
          lit(0.0)), 4).as("recall"))
  }

  /** Term burstiness (variance-to-mean ratio of per-document counts,
    * zeros included): VMR > 1 marks CLUMPED terms (topical/keyword
    * behavior), VMR ≈ 1 Poisson background — the dispersion signal
    * keyword extraction and stop-list construction use on top of raw
    * frequency. Sufficient statistics are three integers per term
    * (df, Σc, Σc²) from ONE (term, doc) aggregation, and
    * VMR = (N·Σc² − (Σc)²)/(N·Σc) keeps numerator and denominator
    * integer-exact until the single rounded division. Top-20 by cf. */
  def q289TermBurstiness(s: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
    docs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("t").as("term"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
        sum(col("c") * col("c")).as("cf2"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"), col("cf"),
        round((col("nd") * col("cf2") - col("cf") * col("cf")) /
          (col("nd") * col("cf")).cast("double"), 6).as("vmr"))
      .orderBy(col("cf").desc, col("term")).limit(20)
  }

  /** Confusion matrix + precision/recall/F1/accuracy for the distilled
    * NB filter — the eval table that decides whether the cheap model
    * replaces the expensive signal (a corpus filter optimizes RECALL on
    * high-quality docs at acceptable precision; accuracy alone hides
    * that trade). One conditional aggregation over q248's held-out
    * scores; every rate derives from the four integer cells and rounds
    * once. */
  def q286NbConfusion(s: SparkSession, dir: String): DataFrame =
    q248NbScore(s, dir)
      .agg(
        sum(when(col("hq") && col("pred_hq"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("hq") && col("pred_hq"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("hq") && !col("pred_hq"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("hq") && !col("pred_hq"), 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        // nullif guards: an empty cell (e.g. zero positive predictions
        // at tiny scale) yields NULL, not a divide-by-zero / inf split
        // between engines
        round(col("tp") / nullif((col("tp") + col("fp")).cast("double"),
          lit(0.0)), 6).as("precision"),
        round(col("tp") / nullif((col("tp") + col("fn")).cast("double"),
          lit(0.0)), 6).as("recall"),
        round(col("tp") * 2 / nullif((col("tp") * 2 + col("fp") + col("fn"))
          .cast("double"), lit(0.0)), 6).as("f1"),
        round((col("tp") + col("tn")) /
          nullif((col("tp") + col("fp") + col("fn") + col("tn"))
            .cast("double"), lit(0.0)), 6).as("accuracy"))

  /** Calibration (reliability) curve for the NB scores: held-out docs
    * in 10 score deciles, per decile the mean score and the ACTUAL
    * positive rate — monotone pos_rate across deciles is what licenses
    * using the score as a ranking/threshold signal (q144's funnel
    * consumes it that way). NOT ntile: a global-window decile sorts the
    * whole eval slice through one task, and "the eval set is small" is a
    * convention, not a bound — at corpus scale held-out slices are
    * corpus-sized too. Instead q179's DISCRETE-boundary method: decile
    * boundary k = the smallest score whose cumulative count reaches
    * ⌈k·n/10⌉, found on the (score, count) table (cardinality-bounded),
    * then a broadcast 9-boundary array bins every doc inside the scan.
    * Tied scores land in ONE decile (the honest treatment — ntile split
    * ties arbitrarily by doc_id). No sigmoid: calibration diagrams are
    * invariant to monotone transforms, and skipping it keeps the query
    * transcendental-free. */
  def q287NbCalibration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = q248NbScore(s, dir)
    val n1 = sc.agg(count(lit(1)).as("n"))
    val cum = sc.groupBy(col("score_micro")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("score_micro"))))
      .crossJoin(broadcast(n1))
    // all nine boundaries from ONE conditional aggregation over the
    // (score, cum) table — nine filtered-agg branches would replicate
    // the cumsum window subtree nine times in the plan
    val bExprs = (1 to 9).map { k =>
      min(when(col("cum") >= expr(s"(n * $k + 9) div 10"),
        col("score_micro"))).as(s"b$k")
    }
    val bounds = cum.agg(bExprs.head, bExprs.tail: _*)
      .select(array((1 to 9).map(k => col(s"b$k")): _*).as("bs"))
    sc.crossJoin(broadcast(bounds))
      .withColumn("decile",
        (expr("size(filter(bs, b -> score_micro > b))") + 1).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("score_micro")) / count(lit(1)).cast("double"), 2)
          .as("mean_score"),
        sum(when(col("hq"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("pos_rate",
        round(col("n_pos") / col("n").cast("double"), 4))
  }

  /** Within-document repetition profile — the Gopher repetition rule
    * family (Rae et al. 2021 §A1.2: duplicate-n-gram fractions and the
    * top-n-gram share), the quality signal that catches boilerplate,
    * keyword stuffing, and decoding loops that per-token rules (q140)
    * miss. q114 reports only the single top-bigram share; this is the
    * full rule family that gate decisions actually read. Per doc and n ∈ {2, 3}: the fraction of n-gram OCCURRENCES
    * whose n-gram repeats within the doc, and the share of the single
    * most frequent n-gram; the keep bit gates on the 3-gram fraction.
    * ONE (doc, n, gram) aggregation serves both n's (n rides the
    * grouping key, so the two gram lengths share the shuffle with
    * map-side partials); every fraction divides two exact integers and
    * rounds once. Embarrassingly parallel at any corpus size — the key
    * space is doc-local. */
  def q295RepetitionProfile(s: SparkSession, dir: String): DataFrame = {
    def grams(n: Int) = s"IF(size(toks) >= $n, transform(" +
      s"sequence(0, size(toks)-$n), i -> struct($n AS n, " +
      (0 until n).map(k => s"toks[i+$k]")
        .mkString("concat_ws(' ', ", ", ", ") AS g") +
      ")), CAST(array() AS ARRAY<STRUCT<n: INT, g: STRING>>))"
    val counts = docs(s, dir)
      .select(col("doc_id"),
        explode(expr(s"concat(${grams(2)}, ${grams(3)})")).as("p"))
      .groupBy(col("doc_id"), col("p.n").as("n"), col("p.g").as("g"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"), col("n"))
      .agg(sum(col("c")).as("total"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"),
        max(col("c")).as("top"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("n") === 2, col("total")).otherwise(0L)).as("n2_total"),
        // nullif guards: a doc too short for an n-gram length divides
        // 0/0 — NaN in IEEE, NULL in DuckDB; NULL on both is the diff
        round(sum(when(col("n") === 2, col("dup")).otherwise(0L)) /
          nullif(sum(when(col("n") === 2, col("total")).otherwise(0L))
            .cast("double"), lit(0.0)), 4).as("dup2_frac"),
        round(sum(when(col("n") === 2, col("top")).otherwise(0L)) /
          nullif(sum(when(col("n") === 2, col("total")).otherwise(0L))
            .cast("double"), lit(0.0)), 4).as("top2_share"),
        round(sum(when(col("n") === 3, col("dup")).otherwise(0L)) /
          nullif(sum(when(col("n") === 3, col("total")).otherwise(0L))
            .cast("double"), lit(0.0)), 4).as("dup3_frac"))
      // Gopher's most-binding 3-gram gate: 5·dup ≤ 4·total in integers
      // would be the exact form; the rounded fraction is already
      // engine-exact, so compare it
      .withColumn("keep", col("dup3_frac") <= 0.8)
  }

  /** Tokenizer fertility / compression audit per source — the go/no-go
    * table a tokenizer change ships with (fertility = pieces per word;
    * chars per piece = compression): q218's BPE encoder applied
    * corpus-wide, rolled up by source. A tokenizer that's efficient on
    * one source and pathological on another skews the token budget the
    * mixture solver (q124/q178) allocates — this is the table that
    * catches it. One scan, one partial-agg groupBy; all ratios divide
    * exact per-source BIGINT sums and round once. */
  def q296TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val enc = bpeEncoded(col("text"),
      Seq(("t", "h"), ("th", "e"), ("e", "r")))
    Tables.documents(s, dir)
      .select(col("source"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("nc"),
        (length(enc) - length(regexp_replace(enc, "\\{", "")))
          .cast("long").as("np"),
        expr("size(filter(split(text, ' '), t -> t <> ''))")
          .cast("long").as("nw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"), sum(col("np")).as("n_pieces"),
        sum(col("nw")).as("n_words"),
        round(sum(col("nc")) /
          nullif(sum(col("np")).cast("double"), lit(0.0)), 4)
          .as("chars_per_piece"),
        round(sum(col("np")) /
          nullif(sum(col("nw")).cast("double"), lit(0.0)), 4)
          .as("fertility"))
  }

  /** Edit-distance similarity join (Ed-Join, Xiao et al. VLDB'08 — design
    * note, not code) over the DISTINCT part-name catalog: all name pairs
    * within Levenshtein distance ≤ 2. The third similarity-join modality
    * on the board next to set-overlap (q170 PPJoin) and Jaccard (q34
    * LSH), and the one record-linkage actually needs for typo-grade
    * variation.
    *
    * Scale shape, in order:
    *  1. COLLAPSE to distinct names first (the q202 aHash precedent: a
    *     million rows sharing one name cost one comparison, not 10^12);
    *  2. q-gram PREFIX FILTER: k edits destroy ≤ k·q of a string's
    *     q-grams, so two strings within distance k share ≥ 1 gram among
    *     each one's (k·q+1) RAREST grams under a global (frequency, gram)
    *     order — rare-first prefixes keep candidate buckets small (the
    *     q170 convention). Candidates = equi-join on signature grams,
    *     never an all-pairs product;
    *  3. length filter |len(a)−len(b)| ≤ k inside the join condition;
    *  4. EXACT levenshtein verify ≤ k — the filter only prunes, so the
    *     output equals brute force and hash-matches the oracle's
    *     all-pairs replay.
    * Output: (a, b, dist), a < b. */
  def q253EditDistanceJoin(s: SparkSession, dir: String): DataFrame =
    editDistanceJoin(
      Tables.part(s, dir).select(col("p_name").as("name")).distinct()
        .transform(Materialize.localCheckpoint(_)),
      k = 2, q = 2)

  /** [[q253EditDistanceJoin]]'s core as a library operator over any
    * distinct `name` frame. Returns (a, b, dist) with a < b and dist ≤ k.
    *
    * The gram-prefix guarantee ("k edits destroy ≤ k·q grams, so strings
    * within distance k share a gram among each one's k·q+1 rarest") is
    * VACUOUS for strings carrying ≤ k·q grams — all of them can be
    * destroyed (the property net's planted counterexample: two length-6
    * strings at distance 3 sharing zero bigrams). Those go through the
    * SHORT BUCKET: strings of length ≤ k·q+q−1 pair all-ways against the
    * bounded-length stratum ≤ k·q+q−1+k that the length filter confines
    * their partners to. The stratum is a fixed-length subspace of
    * DISTINCT strings — census-sized after the collapse, never
    * corpus-sized — and both paths feed the same exact verifier, so the
    * union equals brute force. */
  def editDistanceJoin(names: DataFrame, k: Int, q: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = names.select(col("name"),
      explode(expr(s"transform(sequence(1, length(name) - $q + 1), " +
        s"i -> substring(name, i, $q))")).as("gram"))
      .distinct()
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("gf"))
    val wRare = Window.partitionBy(col("name"))
      .orderBy(col("gf").asc, col("gram").asc)
    val sig = grams.join(freq, Seq("gram"))
      .withColumn("rk", row_number().over(wRare))
      .filter(col("rk") <= k * q + 1)
      .select(col("name"), col("gram"))
    val gramCand = sig.as("x").join(sig.as("y"),
      col("x.gram") === col("y.gram") && col("x.name") < col("y.name") &&
        abs(length(col("x.name")) - length(col("y.name"))) <= k)
      .select(col("x.name").as("a"), col("y.name").as("b"))
    val shortLen = k * q + q - 1
    val stratum = names.filter(length(col("name")) <= shortLen + k)
    val shortCand = stratum.as("x").join(stratum.as("y"),
      col("x.name") < col("y.name") &&
        abs(length(col("x.name")) - length(col("y.name"))) <= k &&
        (length(col("x.name")) <= shortLen || length(col("y.name")) <= shortLen))
      .select(col("x.name").as("a"), col("y.name").as("b"))
    gramCand.unionByName(shortCand).distinct()
      .withColumn("dist", levenshtein(col("a"), col("b")))
      .filter(col("dist") <= k)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Sorted-neighborhood record linkage (Hernández & Stolfo SIGMOD'95 —
    * design note, not code) over the distinct part-name catalog: sort by
    * the name key, compare each record only to its w−1 successors in the
    * GLOBAL sort order, verify Levenshtein ≤ 2. The third blocking
    * modality next to gram signatures (q253) and LSH bands (q34): SNM's
    * candidate count is exactly (w−1)·N regardless of value skew — the
    * property that makes it the safe default when a hot key would flood
    * a signature bucket.
    *
    * The global rank is computed WITHOUT a single-partition sort — the
    * classic two-phase form: range-repartition on the key, rank within
    * each range, then add per-range offsets (a ≤32-row census rolled up
    * on the driver-free broadcast path). The result is invariant to
    * where the range boundaries land, so the sampling inside
    * repartitionByRange cannot affect answers. Neighbor pairing is an
    * EQUI-join: each row explodes its w−1 successor ranks and joins on
    * rank — no range-join nested loop. */
  def q254SortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodJoin(
      Tables.customer(s, dir).select(col("c_name").as("name")).distinct(),
      w = 5, k = 2)

  /** [[q254SortedNeighborhood]]'s core as a library operator over any
    * distinct `name` frame: pairs within a w-wide window of the global
    * name order, kept when levenshtein ≤ k. Returns (a, b, dist), a < b
    * in sort order. */
  def sortedNeighborhoodJoin(names: DataFrame, w: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = names.repartitionByRange(32, col("name"))
      .withColumn("pid", spark_partition_id())
    val intra = parts.withColumn("rk",
      row_number().over(Window.partitionBy(col("pid")).orderBy(col("name"))))
    // per-range offsets: ≤32 rows — census-sized, same class as the
    // closure convergence reads
    val off = intra.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(Window.orderBy(col("pid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    val ranked = intra.join(broadcast(off), Seq("pid"))
      .select(col("name"), (col("off") + col("rk")).as("rn"))
      .transform(Materialize.localCheckpoint(_))
    val probes = ranked.select(col("name").as("a"),
      explode(expr(s"sequence(rn + 1, rn + ${w - 1})")).as("rn"))
    probes.join(ranked.withColumnRenamed("name", "b"), Seq("rn"))
      .withColumn("dist", levenshtein(col("a"), col("b")))
      .filter(col("dist") <= k)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Deterministic epoch shuffle + sharding — the training data-loader
    * order: each epoch permutes the corpus by ranking on
    * md5(epoch:doc_id) and deals documents into shards, so every epoch
    * is a DIFFERENT but fully REPRODUCIBLE permutation with no RNG
    * state to checkpoint (the q58/q176 hashing convention). Shard
    * assignment is hash-mod (balanced in expectation, invariant to
    * corpus partitioning); within-shard position is a rank over the
    * shard's OWN hash order — a window partitioned by shard, never a
    * global sort, so the permutation costs one hash scan + one
    * shard-keyed shuffle at any corpus size. Resuming mid-epoch needs
    * only (epoch, shard, pos > cursor) — a pushable predicate, no
    * loader state. */
  def q263EpochShuffle(s: SparkSession, dir: String): DataFrame =
    epochShuffle(docs(s, dir).select(col("doc_id")), epoch = 7, nShards = 32)

  /** [[q263EpochShuffle]]'s core over any id frame. Returns
    * (doc_id, shard, pos) — a permutation: each id exactly once, pos
    * dense 1..n within each shard. */
  def epochShuffle(ids: DataFrame, epoch: Int, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ids.select(col("doc_id"),
        md5(concat(lit(epoch.toString), lit(":"),
          col("doc_id").cast("string"))).as("h"))
      .withColumn("shard",
        conv(substring(col("h"), 1, 8), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Record-linkage funnel — the entity-resolution composition story
    * (blocking → match → cluster → survivorship), the ER mirror of the
    * corpus-build funnel (q245): Ed-Join candidate pairs at Levenshtein
    * ≤ 2 over the distinct part-name catalog (q253's gram-signature
    * blocking, output == brute force) feed the distributed
    * connected-components step (q110's engine), every name gets its
    * cluster's canonical representative (min member — deterministic
    * survivorship) and cluster size. Each stage is the already-oracled
    * library operator; this query pins that they COMPOSE — the
    * pair-graph CC is pair-bound, the catalog is touched once. */
  def q265LinkageFunnel(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select(col("p_name").as("name"))
      .distinct().transform(Materialize.localCheckpoint(_))
    val pairs = editDistanceJoin(names, k = 2, q = 2)
      .select(col("a").as("src"), col("b").as("dst"))
    val lab = graft.plans.ConnectedComponents.labels(
      pairs, names.select(col("name").as("node")),
      uniqueNodes = true) // names is already distinct()
    val sizes = lab.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, Seq("component"))
      .select(col("node").as("name"), col("component").as("canonical"),
        col("cluster_size"))
  }

  /** Zipf-law fit over the corpus frequency spectrum: log-log OLS of
    * collection frequency against frequency rank, reusing the
    * closed-form regression operator ([[Relational.olsFit]]) — slope ≈
    * −α is the Zipf exponent, R² measures how Zipfian the corpus is
    * (a sanity gate on synthetic/corrupted corpora whose spectra go
    * flat). One term shuffle builds the spectrum; log coordinates
    * quantize to integer micro-units before the fit so the sufficient
    * statistics stay engine-exact.
    *
    * The fit needs EVERY term's frequency rank, so a limit can't cut
    * the window — instead rank computes as the bucketed two-phase
    * prefix (the budgetPrefix pattern): rank = cf-group offset +
    * in-group index. Only the DISTINCT-frequency table (√-scale of the
    * vocabulary, Zipf's own guarantee) sees an unpartitioned cumsum;
    * per-term windows partition on (cf, salt) where the 64-way term-hash
    * salt breaks the hapax mega-group (at web scale, cf=1 alone is half
    * the vocabulary — unsalted, one task would sort billions of ties).
    * The within-group assignment is salt-permuted rather than lexical,
    * which the OLS is invariant to: a cf-group's members receive the
    * SAME rank set {off+1..off+k} under any permutation, and every
    * member shares y = ln(cf), so the fit's sufficient statistics are
    * bit-identical to the oracle's lexical row_number. */
  def q266ZipfFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cf = docs(s, dir)
      .select(explode(col("toks")).as("term")).filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .withColumn("salt", pmod(xxhash64(col("term")), lit(64)).cast("long"))
    val cells = cf.groupBy(col("cf"), col("salt")).agg(count(lit(1)).as("k"))
      .transform(Materialize.persist(_))
    // phase 1a: offset of each cf group = Σ sizes of strictly-higher groups
    // (unpartitioned cumsum, but over the distinct-frequency table only)
    val wCf = Window.orderBy(col("cf").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val grp = cells.groupBy(col("cf")).agg(sum(col("k")).as("kg"))
      .withColumn("goff", coalesce(sum(col("kg")).over(wCf), lit(0L)))
      .select(col("cf"), col("goff"))
    // phase 1b: offset of each salt cell within its cf group (windows
    // partition on cf; ≤64 rows each)
    val wSalt = Window.partitionBy(col("cf")).orderBy(col("salt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellOff = cells
      .withColumn("soff", coalesce(sum(col("k")).over(wSalt), lit(0L)))
      .join(grp, Seq("cf"))
      .select(col("cf"), col("salt"), (col("goff") + col("soff")).as("off"))
    // phase 2: per-term rank inside the salted cell
    val wIn = Window.partitionBy(col("cf"), col("salt")).orderBy(col("term"))
    val ranked = cf.join(cellOff, Seq("cf", "salt"))
      .withColumn("rank", col("off") + row_number().over(wIn))
    Relational.olsFit(ranked.select(lit("zipf").as("g"),
      round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
      round(log(col("cf").cast("double")) * 1e6).cast("long").as("y")))
  }

  /** Vocabulary extraction (tokenizer/vocab building): corpus-wide term
    * table with collection frequency and document frequency, top-20 by cf
    * with a lexical tiebreak. ONE shuffle on term with map-side partial
    * aggregation (the countDistinct expands to a two-phase exact
    * distinct); stopword-grade skew is absorbed by the partial agg, and
    * the final top-k is a TakeOrdered, not a global sort. */
  def q121Vocabulary(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("cf").desc, col("term")).limit(20)

  /** Per-document top TF-IDF term (feature extraction): tf = c/|doc|,
    * idf = ln(N/df), deterministic pick by (rounded score desc, term).
    * Two aggregations — (doc,term) counts, then term document frequency —
    * plus a broadcast of the 1-row corpus count and a per-doc window
    * rank; the (doc,term) agg carries |doc| as a grouping key so no
    * second join against a doc-length table is needed. Ranking uses the
    * ROUNDED score so both engines order identical values (ulp-safe). */
  def q122Tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val n = d.select(countDistinct(col("doc_id")).as("n_docs"))
    val terms = d.select(col("doc_id"), size(col("toks")).as("n_toks"),
      explode(col("toks")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"), col("n_toks"))
      .agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("c") / col("n_toks") * log(col("n_docs") / col("df")), 5))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("score"))
  }

  /** Chunk-level duplicate detection (finer-grained than whole-doc dedup,
    * the boilerplate/template-text signal): split each document into
    * contiguous full 8-token chunks, count how many DISTINCT documents
    * each chunk occurs in, and report per-document how much of it is
    * shared text. Two aggregations over the exploded chunk stream plus
    * one equi-join on the chunk key — all shuffles are on the chunk hash,
    * which is near-uniform, so the plan holds at corpus scale (the
    * reference's whole-doc pass, like most published pipelines, stops at
    * doc granularity; chunk granularity is what catches shared headers /
    * license blocks). */
  def q123ChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val chunksExpr =
      "IF(size(toks) >= 8, transform(sequence(0, CAST(floor(size(toks)/8) AS INT) - 1), " +
        "i -> concat_ws(' ', slice(toks, i*8+1, 8))), CAST(array() AS ARRAY<STRING>))"
    val ch = docs(s, dir)
      .select(col("doc_id"), explode(expr(chunksExpr)).as("chunk"))
    val counts = ch.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    ch.join(counts, "chunk")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared"),
        round(sum(when(col("ndocs") > 1, 1L).otherwise(0L)) / count(lit(1)), 4)
          .as("dup_ratio"))
  }

  /** Data-mixture weights: temperature-based source rebalancing (the
    * multilingual/multi-source sampling scheme — w ∝ n^α with α = 0.5,
    * i.e. sqrt, chosen because IEEE sqrt is correctly rounded and thus
    * bit-identical on both engines). Emits per-source sampling
    * probability and the implied epochs over each source. The per-source
    * count table is tiny at any corpus size: one map-side-combined
    * aggregation, then a broadcast of the 1-row total. */
  def q124MixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", sqrt(col("n_docs").cast("double")))
    val tot = n.agg(sum(col("w")).as("tw"), sum(col("n_docs")).as("tn"))
    n.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("w") / col("tw"), 5).as("p_sample"),
        round(col("w") / col("tw") * col("tn") / col("n_docs"), 4).as("epochs"))
  }

  /** Provenance-aware dedup: content keys (q33's first-8-token prefix
    * hash) that appear under MORE THAN ONE source — the cross-crawl
    * duplicate set every multi-source corpus merge needs before mixing
    * (within-source dups are deliberate re-crawls; cross-source dups are
    * the double-counting hazard). Same single-shuffle shape as q33 with
    * a distinct-source count riding the same aggregation. */
  def q125CrossSourceDups(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("dup_key", md5(concat_ws(" ", slice(col("toks"), 1, 8))))
      .groupBy(col("dup_key"))
      .agg(countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_sources") > 1)

  /** Source-overlap matrix — q125's cross-source duplicate keys rolled up
    * to the source×source view a corpus-governance review reads: for
    * every source pair, how many content keys both carry. The pair join
    * runs AFTER pruning to keys seen in ≥2 sources (within-source-only
    * keys — the overwhelming majority — never reach it), and its input is
    * (key, source) DISTINCT pairs, so cost is bounded by the multi-source
    * key set times squared source-multiplicity, never corpus². The
    * matrix says WHICH crawls double-count each other — the evidence
    * behind dropping or down-weighting a mirror source before mixing. */
  def q180SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val ks = docs(s, dir)
      .withColumn("dup_key", md5(concat_ws(" ", slice(col("toks"), 1, 8))))
      .select(col("dup_key"), col("source")).distinct()
    val multi = ks.groupBy(col("dup_key")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") > 1).select(col("dup_key"))
    val pruned = ks.join(multi, "dup_key")
    pruned.as("a").join(pruned.as("b"),
        col("a.dup_key") === col("b.dup_key") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Quality-filter funnel telemetry: how many documents survive each
    * successive gate (length → token count → stopword ratio). ONE pass,
    * conditional aggregation — the per-stage counts a pipeline operator
    * reports so a mis-tuned threshold is visible before a 100 TB run is
    * wasted. All gates are integer-derived (ratio compare is one IEEE
    * division), so cross-engine bit-exact. */
  def q126QualityFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        expr("size(filter(toks, t -> t IN ('the','a','of','and')))").cast("long"))
    val p1 = col("n_chars") >= 150
    val p2 = p1 && col("n_toks") >= 40
    val p3 = p2 && col("n_stop") / col("n_toks") <= lit(0.25)
    d.agg(
      count(lit(1)).as("total"),
      sum(p1.cast("long")).as("pass_length"),
      sum(p2.cast("long")).as("pass_tokens"),
      sum(p3.cast("long")).as("pass_stopword"))
  }

  /** One BPE merge step — the inner loop of tokenizer training, run as a
    * corpus aggregation: count every adjacent character pair inside every
    * token occurrence and emit the top-5 merge candidates (count desc,
    * lexical tiebreak). ONE shuffle on the pair key with map-side partial
    * aggregation absorbing the Zipf head; the final top-k is a
    * TakeOrdered. The full training loop is this step re-run against the
    * re-segmented corpus — each iteration stays this same flat plan. */
  def q130BpeStep(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(col("toks")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok)-1), i -> substr(tok, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(5)

  /** The end of the dedup funnel: turn q110's canonical labels into the
    * KEEP/DROP decision (keep = doc is its component's canonical) and
    * report the per-source outcome — the number a corpus owner actually
    * signs off on before the drop is executed. One broadcastable join of
    * the label table against the documents' (doc_id, source) projection
    * plus a 10-row conditional aggregation; at full scale the decision
    * column rides the same join that would write the deduped corpus. */
  def q132DedupDecision(s: SparkSession, dir: String): DataFrame = {
    val canon = q110DedupClusters(s, dir)
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(canon, "doc_id")
      .groupBy(col("source"))
      .agg(
        sum(when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L)).as("dropped"))
  }

  /** Per-stratum cap: keep at most 20 documents per (source, lang),
    * chosen deterministically by content-independent hash order (md5 of
    * doc_id, doc_id tiebreak) — the "no domain exceeds N" downsampler a
    * mixture spec compiles to. The rank window partitions by stratum, so
    * parallelism follows the stratum count and no global sort exists;
    * re-runs, retries, and late files all pick the identical sample
    * (rand() would not). Reports survivors per stratum. */
  def q134StratumCap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_kept"))
  }

  /** Candidate-graph degree histogram — the diagnostic read BEFORE
    * running component clustering: how many docs have 1, 2, … LSH
    * candidate partners. A heavy tail here means a degenerate band (all
    * boilerplate in one bucket) and a component blowup ahead; the
    * histogram is two tiny aggregations over the pair list, so the check
    * costs nothing next to the clustering it guards. */
  def q135DegreeHistogram(s: SparkSession, dir: String): DataFrame =
    q34MinhashLsh(s, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))

  /** LSH candidate VERIFICATION — the stage between q34's band join and
    * q110's clustering that an exact-dedup pipeline runs in production:
    * banding yields candidates (with false positives by design); exact
    * 3-gram-shingle Jaccard over ONLY the candidate pairs confirms or
    * rejects each. Cost is O(|pairs|) set intersections — the pair list
    * is tiny next to the corpus, so both joins build on the pair side
    * and the corpus streams; the all-pairs O(N²) verifier (q36's bounded
    * demo) never runs. Feeding q110 the verified pairs instead of the
    * raw candidates is a one-line swap. */
  def q143CandidateVerify(s: SparkSession, dir: String): DataFrame = {
    val pairs = q34MinhashLsh(s, dir)
    val sd = docs(s, dir)
      .withColumn("sdist", expr(s"array_distinct($shingles3)"))
      .select(col("doc_id"), col("sdist"))
    pairs
      .join(sd.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sd.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter",
        expr("size(array_intersect(sa.sdist, sb.sdist))").cast("long"))
      .withColumn("uni",
        (expr("size(sa.sdist)").cast("long") +
          expr("size(sb.sdist)").cast("long")) - col("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / col("uni"), 4).as("jac"))
      .filter(col("jac") >= 0.5)
  }

  /** End-to-end corpus funnel with the REAL dedup stages (q126 reports
    * quality gates only): per source, how many docs pass the q140 quality
    * gate, are their exact-key group's winner (q33), are their near-dup
    * component's canonical member (q110), and survive ALL three. Each
    * mask is computed corpus-wide and reported independently — the AND
    * column is the training-set size this corpus yields; independent
    * masks keep the report composable (no stage-order ambiguity) and the
    * whole thing is three hash joins against small per-doc decision
    * tables plus ONE conditional-aggregation pass. */
  def q144CorpusFunnel(s: SparkSession, dir: String): DataFrame = {
    val quality = q140QualityRules(s, dir).select(col("doc_id"), col("keep"))
    val keyed = docs(s, dir)
      .withColumn("dup_key", md5(concat_ws(" ", slice(col("toks"), 1, 8))))
      .select(col("doc_id"), col("dup_key"))
    val exactWinner = keyed.groupBy(col("dup_key"))
      .agg(min(col("doc_id")).as("keep_id"))
    val canon = q110DedupClusters(s, dir)
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(quality, "doc_id")
      .join(keyed, "doc_id")
      .join(exactWinner, "dup_key")
      .join(canon, "doc_id")
      .withColumn("is_exact", col("doc_id") === col("keep_id"))
      .withColumn("is_canon", col("doc_id") === col("canonical_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("is_exact"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("is_canon"), 1L).otherwise(0L)).as("n_canonical"),
        sum(when(col("keep") && col("is_exact") && col("is_canon"), 1L)
          .otherwise(0L)).as("n_final"))
  }

  /** Longest shared contiguous token run per near-dup candidate pair —
    * the EXACT-SUBSTRING dedup metric (Lee et al. 2022 dedup long
    * verbatim spans, 50-token threshold, via suffix arrays; for an
    * LSH-bounded candidate list the same quantity falls out of pure
    * relational algebra): positions where the two docs share a token
    * form diagonals (a_pos - b_pos constant); a verbatim span is a
    * consecutive run on one diagonal, found with the gaps-and-islands
    * trick (pos minus rank is constant within an island) — no dynamic
    * programming, no UDF. Cost is |matching position pairs| per
    * candidate pair, bounded by the LSH candidate stage exactly like
    * q143's Jaccard verify; every shuffle key carries the pair id. */
  def q154LongestRun(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = q34MinhashLsh(s, dir)
    val toks = docs(s, dir)
      .select(col("doc_id"), col("toks"))
    // pos feeds BOTH sides of the match join — persist so the corpus
    // explode runs once (the q34 band-table convention)
    val pos = toks.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("p", "tok"))).transform(Materialize.persist(_))
    pos.count()
    val lens = toks.select(col("doc_id"), size(col("toks")).as("n"))
    val m = pairs
      .join(pos.as("a"), col("a.doc_id") === col("doc_a"))
      .join(pos.as("b"),
        col("b.doc_id") === col("doc_b") && col("b.tok") === col("a.tok"))
      .select(col("doc_a"), col("doc_b"), col("a.p").as("ap"),
        (col("a.p") - col("b.p")).as("diag"))
    val wIsl = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("ap"))
    val longest = m
      .withColumn("island", col("ap") - row_number().over(wIsl))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("run")).as("longest_run"))
    // LEFT join from the candidate list: a band-coincidence pair with
    // ZERO shared tokens must report longest_run = 0, not vanish — a
    // consumer diffing against the candidate list reads absence as
    // "unverified", not "verified non-overlapping"
    pairs
      .join(longest, Seq("doc_a", "doc_b"), "left")
      .join(lens.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        round(coalesce(col("longest_run"), lit(0L)) /
          least(col("na"), col("nb")), 4).as("overlap_share"))
  }

  /** Unigram surprisal per document — the in-engine stand-in for CCNet's
    * KenLM perplexity filter (Wenzek et al. 2020 score documents against
    * a reference LM; a corpus-trained UNIGRAM model is the degenerate
    * case that needs no external artifact): score = mean over tokens of
    * -ln p(token), p from corpus counts. Unusually-distributed docs
    * (gibberish, boilerplate, wrong-language) score high; the q147
    * per-slice percentile machinery turns the score into keep decisions.
    *
    * Two shuffles at any scale: the term-count aggregation (map-side
    * partials over a near-uniform term key) and the per-doc mean; the
    * count table joins back on the same term key — broadcastable when
    * the vocabulary is small, an ordinary shuffle join otherwise. The
    * corpus total is a 1-row broadcast. */
  def q152UnigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    // the exploded term stream feeds the count table, the corpus total,
    // AND the scoring join — persist so the explode (the row-multiplier
    // of this query) runs once, not three times
    val terms = docs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("term")).transform(Materialize.persist(_))
    terms.count()
    val cf = terms.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val total = terms.select(count(lit(1)).cast("double").as("total"))
    terms.join(cf, "term").crossJoin(broadcast(total))
      .withColumn("nll", -log(col("cf") / col("total")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), round(avg(col("nll")), 4).as("surprisal"))
  }

  /** Bigram conditional surprisal — one rung up q152's unigram ladder
    * toward the KenLM n-gram scoring CCNet actually runs: score = mean
    * over positions 2..n of -ln p(w_i | w_{i-1}), probabilities from
    * corpus bigram counts over their prefix marginal (both observed, so
    * no zero mass and no smoothing constant to disagree on). Repetitive
    * or templated docs score LOW (their transitions are corpus-common) —
    * the complementary signal to q114's within-doc repetition.
    *
    * Same scale shape as q152 plus one more near-uniform key: bigram
    * counts and prefix marginals aggregate with map-side partials; the
    * count tables join back on the bigram key (broadcast while the
    * vocabulary² stays small, shuffle join beyond); per-doc mean is the
    * second shuffle. */
  def q156BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val bg = docs(s, dir)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks)-1), " +
          "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .transform(Materialize.persist(_))
    bg.count()
    val cbg = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cbg"))
    val cpre = bg.groupBy(col("w1")).agg(count(lit(1)).as("cpre"))
    bg.join(cbg, Seq("w1", "w2")).join(cpre, Seq("w1"))
      .withColumn("nll", -log(col("cbg") / col("cpre")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 4).as("surprisal"))
  }

  /** PMI collocation mining: the top bigrams by pointwise mutual
    * information ln(p(w1 w2) / (p(w1)·p(w2))) with a min-count support
    * floor — the classic collocation-extraction signal (phrases whose
    * words co-occur far above chance), the phrase-vocabulary feeder for
    * tokenizer and n-gram work (q121/q130's neighbor). One persisted
    * token explode feeds the unigram table AND the bigram table (same
    * single-scan rule as q152/q156); both count tables aggregate with
    * map-side partials; the scoring joins key on the unigram term —
    * broadcast while the vocabulary is small, ordinary shuffle joins
    * beyond. Totals are 1-row broadcasts. Ranking sorts on the ROUNDED
    * pmi (round-before-use, the q198 convention) with the bigram as
    * total tiebreak, compiling to TakeOrderedAndProject. */
  def q236PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val d = Materialize.persist(docs(s, dir).select(col("toks")))
    d.count()
    val uni = d.select(explode(col("toks")).as("term"))
    val cf = uni.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nu = uni.select(count(lit(1)).cast("double").as("nu"))
    // size guard: Spark's sequence(1, 0) is the DESCENDING [1, 0], not
    // empty like DuckDB's generate_series — unguarded, a single-token doc
    // would mint two null-padded bigrams that shift nb (and pmi) for
    // every row (the q192/q285/bpeTrain convention)
    val bg = d.select(explode(expr(
      "IF(size(toks) >= 2, transform(sequence(1, size(toks)-1), " +
        "i -> struct(toks[i-1] AS w1, toks[i] AS w2)), " +
        "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val nb = bg.select(count(lit(1)).cast("double").as("nb"))
    bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .join(cf.select(col("term").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(cf.select(col("term").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("pmi", round(log((col("n") / col("nb")) /
        ((col("c1") / col("nu")) * (col("c2") / col("nu")))), 4))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("n"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(20)
  }

  /** Unigram-LM Viterbi segmentation ([[graft.functions.UnigramViterbi]]
    * — SentencePiece's inference step, Kudo 2018): segment the
    * space-stripped document prefix against a corpus-derived piece
    * vocabulary (token costs = −ln(p) quantized to 10⁻⁶ longs; 26
    * single-char fallback pieces guarantee segmentability). The DP runs
    * as ONE fused codegen loop per row — an imperative backpointer loop
    * no HOF lambda chain could keep inside whole-stage codegen — and
    * because costs are integers the full DP replays bit-identically in
    * the DuckDB oracle's recursive CTE (a maxLen-wide sliding window of
    * dp values per doc). The piece vocabulary is a FIXED-SIZE artifact
    * by construction — top-[[ViterbiVocabSize]] tokens by count (length
    * ≤ 12, the oracle's DP window width) via TakeOrdered, so the driver
    * read is V-bounded no matter the corpus (real tokenizers ship fixed
    * vocab sizes; an unbounded collect here was round-11's named
    * scale-killer). Costs renormalize over the kept vocabulary. The
    * model then rides the plan as expression constructor data. */
  /** q243's fixed piece-vocabulary budget: the TakeOrdered cut that makes
    * the driver-side model read bounded by construction. */
  private[graft] val ViterbiVocabSize = 512

  def q243ViterbiSegment(s: SparkSession, dir: String): DataFrame = {
    val counts = docs(s, dir)
      .select(explode(col("toks")).as("t"))
      .filter(col("t") =!= "" && length(col("t")) <= 12)
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(ViterbiVocabSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = counts.map(_._2).sum.toDouble
    val fromCorpus = counts.map { case (t, c) =>
      (t, math.round(-math.log(c / total) * 1e6)) }
    val fallback = ('a' to 'z').map(ch => (ch.toString, 20000000L))
    val vocab = (fromCorpus ++ fallback).groupBy(_._1).view
      .mapValues(_.map(_._2).min).toSeq.sortBy(_._1)
    docs(s, dir).select(col("doc_id"),
        graft.functions.UnigramViterbi(
          regexp_replace(substring(col("text"), 1, 60), " ", ""),
          vocab.map(_._1), vocab.map(_._2)).as("seg"))
      .withColumn("n_pieces",
        when(col("seg") === "", 0L)
          .otherwise(size(split(col("seg"), "\\|")).cast("long")))
  }

  /** Quality-aware cluster representative: q132 keeps each near-dup
    * component's MIN-ID member (deterministic but arbitrary); production
    * pipelines keep the BEST member (longest / highest-quality — the
    * policy Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" leaves open and practitioners fill with a quality
    * score). Per component: rank members by q40 quality (doc_id
    * tiebreak), keep rank 1. One extra shuffle over q110 — the window
    * partitions on the component label, and components are tiny by
    * construction (near-dup clusters; singletons dominate), so no
    * partition skew at any corpus size. */
  def q151ComponentRepresentative(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = q110DedupClusters(s, dir)
    val quality = q40Quality(s, dir).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("canonical_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    canon.join(quality, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("canonical_id"), col("quality"), col("keep"))
  }

  /** Per-source quality calibration (the CCNet move — Wenzek et al. 2020
    * filter per LANGUAGE by perplexity percentile, not by one global
    * threshold, because score distributions differ by slice): rank every
    * doc's q40 quality score WITHIN its source and keep the top half by
    * percent_rank. A single global cutoff would admit all of an
    * easy-scoring source and none of a hard one; per-slice percentiles
    * spend the token budget evenly.
    *
    * Scale posture: one shuffle — the source-partitioned window (scores
    * themselves are the shuffle-free q40 scan). Sources are few and fat,
    * so the window partition is the natural unit; if one source dominates
    * the corpus, the swap is the two-pass form: aggregate per-source
    * score quantiles (a tiny table), broadcast them back, and filter —
    * no giant sort partition. percent_rank = (rank-1)/(n-1) with a
    * doc_id tiebreak is deterministic and engine-exact (rounded to 6
    * before the keep comparison). */
  def q147QualityCalibration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = q40Quality(s, dir).select(col("doc_id"), col("quality"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    scored
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("keep", col("pr") < 0.5)
      .select(col("doc_id"), col("source"), col("quality"), col("pr"),
        col("keep"))
  }

  /** Gopher-style quality rule set (Rae et al. 2021 §A1.1 shape): per-doc
    * pass/fail on word count bounds, mean word length, stopword presence,
    * max single-word share, and type-token ratio, plus the combined keep
    * bit. Every rule is an INTEGER comparison (mean in [3,10] is
    * `3n <= sum <= 10n`, share <= 1/5 is `5*max <= n`) — no float ratio
    * ever materializes, so the output is bit-exact across engines and
    * parallelism. Linear scan, shuffle-free: the per-token max count runs
    * inside a HOF over the (short) token array, not via explode+groupBy
    * (reference quality gate: prosnet-prefect-pipelines has no corpus
    * analogue; BASELINE.json's training-data north star). */
  def q140QualityRules(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("sum_len",
        expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))"))
      .withColumn("n_stop",
        expr("size(array_intersect(toks, array('the','a','of','to','and')))")
          .cast("long"))
      .withColumn("max_count",
        expr("array_max(transform(array_distinct(toks), " +
          "w -> size(filter(toks, t -> t = w))))").cast("long"))
      .withColumn("n_distinct", expr("size(array_distinct(toks))").cast("long"))
      .select(
        col("doc_id"), col("n_words"),
        (col("n_words") >= 30 && col("n_words") <= 100000).as("ok_count"),
        (col("sum_len") >= col("n_words") * 3 &&
          col("sum_len") <= col("n_words") * 10).as("ok_word_len"),
        (col("n_stop") >= lit(2L)).as("ok_stopwords"),
        (col("max_count") * 5 <= col("n_words")).as("ok_max_share"),
        (col("n_distinct") * 10 >= col("n_words") * 3).as("ok_ttr"))
      .withColumn("keep",
        col("ok_count") && col("ok_word_len") && col("ok_stopwords") &&
          col("ok_max_share") && col("ok_ttr"))

  /** Incremental dedup: a NEW crawl batch admitted against an EXISTING
    * index without re-clustering the corpus — the production shape (the
    * index's keys/signatures are precomputed artifacts; only the batch
    * pays full hashing). Batch = q58's deterministic hash split (bucket
    * >= 90, the "test" slice); index = the rest. A batch doc is rejected
    * on an EXACT content-key hit (q33's first-8-token md5) or a NEAR-DUP
    * LSH bucket collision (q34's band pipeline) against the index.
    * Both checks are semi-join shaped: the batch side is ~10% of the
    * corpus and the join keys are hashes, so at 100 TB each check is one
    * near-uniform shuffle (or a broadcast when the batch is small);
    * within-batch duplicates are intentionally NOT flagged here — they
    * are the next index build's q33/q110 job. */
  /** NEAR-DUP decontamination (the contamination protocol real evals
    * run — q116/q201 catch verbatim n-gram overlap, this catches the
    * lightly-edited copy those structurally miss): eval docs (doc_id <
    * 20, the q116 split) and train docs band through ONE minhash pass;
    * train docs sharing any band bucket with an eval doc verify at
    * exact distinct-shingle Jaccard ≥ 0.5 (the b=4/r=2 banding
    * threshold, decided integer-exactly as 2·∩ ≥ ∪), and each
    * contaminated train doc reports its best-matching eval doc. The
    * eval side is benchmark-sized — its bands broadcast, so the corpus
    * pays one hashing scan and a broadcast semi-ish join, never a
    * corpus×corpus band join. */
  def q211NeardupDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).repartition(s.sparkContext.defaultParallelism)
      .transform(Materialize.persist(_))
    d.count()
    val bands = minhashBands(d.select(col("doc_id"), col("toks")))
      .filter(col("bkey").isNotNull)
    val evalBands = bands.filter(col("doc_id") < 20)
      .select(col("band"), col("bkey"), col("doc_id").as("eval_id"))
    val cand = bands.filter(col("doc_id") >= 20)
      .join(broadcast(evalBands), Seq("band", "bkey"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val sets = d.select(col("doc_id"),
      expr(s"array_distinct($shingles3)").as("sset"))
    val ver = cand
      .join(sets, Seq("doc_id"))
      .join(broadcast(sets.filter(col("doc_id") < 20)
        .select(col("doc_id").as("eval_id"), col("sset").as("eset"))),
        Seq("eval_id"))
      .withColumn("inter", size(array_intersect(col("sset"), col("eset"))))
      .withColumn("uni",
        size(col("sset")) + size(col("eset")) - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .withColumn("jac", round(col("inter") / col("uni").cast("double"), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jac").desc, col("eval_id").asc)
    ver.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("eval_id"), col("jac"))
  }

  def q141IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr("conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)")
      .cast("long") % 100
    val keyed = docs(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("dup_key", md5(concat_ws(" ", slice(col("toks"), 1, 8))))
      .withColumn("is_batch", bucket >= 90)
      .transform(Materialize.persist(_))
    // Bands for BOTH sides come from one hashing pass (in production the
    // index side is a precomputed artifact; the is_batch column stands in
    // for that split).
    val bands = minhashBands(keyed.select(col("doc_id"), col("toks")))
      .join(keyed.select(col("doc_id"), col("is_batch")), "doc_id")
      .transform(Materialize.persist(_))
    bands.count() // one materialization feeds both semi-joins below
    val batch = keyed.filter(col("is_batch"))
    val exactHits = batch
      .join(keyed.filter(!col("is_batch")).select(col("dup_key")),
        Seq("dup_key"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))
    val nearHits = bands.filter(col("is_batch"))
      .join(bands.filter(!col("is_batch")).select(col("band"), col("bkey")),
        Seq("band", "bkey"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    batch.select(col("doc_id"))
      .join(exactHits, Seq("doc_id"), "left")
      .join(nearHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"))
      .withColumn("admit", !col("exact_dup") && !col("near_dup"))
  }

  /** PII redaction — the C4-style scrub step (emails, long id-number
    * runs) every release pipeline runs before training. The corpus is
    * word-salad by construction, so a deterministic fixture derivation
    * (every 7th doc gains a contact line — same arithmetic on both
    * engines) gives the redactor real work; the operator itself is two
    * chained regexp_replace passes plus occurrence counts, all codegen'd
    * string expressions. Patterns stay in the RE2 ∩ java.util.regex
    * common dialect so both engines compile the same automaton. Linear
    * scan, shuffle only for the per-source rollup: at 100 TB this is the
    * cheapest kind of pass, and chars_removed/docs_with_pii per source is
    * the release-gate evidence table. */
  def q160PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val idPat = "[0-9]{9,}"
    val d = Tables.documents(s, dir).withColumn("text2",
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact u"),
          col("doc_id").cast("string"), lit("@example.com ref "),
          (col("doc_id") * 1000003L + 777777777L).cast("string")))
        .otherwise(col("text")))
    // Column-API regexp_count so the pattern never rides through the SQL
    // parser (which would unescape '\.' to bare '.') — all three uses of
    // emailPat now compile the identical automaton.
    val red = d
      .withColumn("n_email", regexp_count(col("text2"), lit(emailPat)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("text2"), emailPat, "<EMAIL>"),
          idPat, "<ID>"))
      .withColumn("n_id", regexp_count(
        regexp_replace(col("text2"), emailPat, "<EMAIL>"), lit(idPat)))
    red.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("n_email") + col("n_id") > 0, 1L).otherwise(0L))
        .as("docs_with_pii"),
      sum(col("n_email")).cast("long").as("total_emails"),
      sum(col("n_id")).cast("long").as("total_ids"),
      sum(length(col("text2")) - length(col("redacted"))).cast("long")
        .as("chars_removed"))
  }

  /** Near-dup pair-graph triangle census — the density diagnostic that
    * separates mirror-farm cliques (many triangles, cc→1) from chain
    * artifacts (wedges without closure, cc→0) before trusting the
    * connected-components output. Compact-forward algorithm over the
    * ordered pair list (doc_a < doc_b everywhere): triangles are one
    * two-step self-join with every shuffle keyed on a node id; wedges are
    * Σ d·(d−1)/2 over the degree table. Both are |E|-bound — never
    * corpus-bound — so the census rides free after any LSH pass. */
  def q162PairTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = Materialize.persist(q34MinhashLsh(s, dir))
    val nEdges = pairs.count() // also materializes the cache for the joins
    val deg = pairs.select(col("doc_a").as("v"))
      .unionByName(pairs.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(sum(expr("d * (d - 1) div 2")).as("w"))
    val e1 = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val e2 = pairs.select(col("doc_a").as("b2"), col("doc_b").as("c"))
    val e3 = pairs.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
    val tri = e1.join(e2, col("b2") === col("b"))
      .join(e3, col("a3") === col("a") && col("c3") === col("c"))
      .agg(count(lit(1)).as("t"))
    tri.crossJoin(wedges) // two 1-row frames
      .select(lit(nEdges).as("n_edges"), coalesce(col("t"), lit(0L)).as("n_triangles"),
        coalesce(col("w"), lit(0L)).as("n_wedges"),
        round(when(coalesce(col("w"), lit(0L)) === 0, 0.0)
          .otherwise(lit(3.0) * col("t") / col("w")), 4).as("global_cc"))
  }

  /** LSH banding calibration — the tuning harness that turns the bands ×
    * rows tradeoff from folklore into a measured decision. From ONE
    * signature pass (the same 8 Kirsch–Mitzenmacher minima as q34), two
    * candidate schemes are derived — 4 bands × 2 rows (recall-leaning)
    * and 2 bands × 4 rows (precision-leaning) — and each is scored
    * against EXACT ground truth (Jaccard ≥ 0.5 over distinct 3-shingles)
    * on a bounded calibration sample: precision, recall, candidate
    * volume. Ground truth is the shared-shingle join (a pair above any
    * positive threshold must share a shingle), so the exact step is
    * |shingle-collision pairs|-bound on the SAMPLE — the corpus never
    * sees O(N²). At 100 TB the sample rides a q58-style hash bucket; the
    * winning scheme then runs corpus-wide with measured expectations. */
  def q163LshCalibration(s: SparkSession, dir: String): DataFrame = {
    val sub = docs(s, dir).filter(col("doc_id") < 300)
      .withColumn("shingles", expr(shingles3))
      .withColumn("sdist", expr("array_distinct(shingles)"))
      .withColumn("sigs", graft.functions.MinHashSigs(col("shingles")))
      .transform(Materialize.persist(_))
    sub.count()
    // exact ground truth on the sample: shared-shingle pairs → Jaccard
    val ex = sub.select(col("doc_id"), explode(col("sdist")).as("sh"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sub.select(col("doc_id"), size(col("sdist")).cast("long").as("n"))
    val gt = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= 0.5)
      .select(col("doc_a"), col("doc_b")).transform(Materialize.persist(_))
    val nTrue = gt.count()
    // candidate pairs under a banding scheme: rows-per-band hashes glued
    def scheme(name: String, bands: Seq[Seq[Int]]): DataFrame = {
      val bandStructs = bands.zipWithIndex.map { case (sigIdxs, band) =>
        struct(lit(band).as("band"),
          md5(concat_ws("_", sigIdxs.map(i => col("sigs").getItem(i).cast("string")): _*))
            .as("bkey"))
      }
      // concat_ws never yields NULL; mask empty-shingle docs explicitly
      // so they don't all collide on the empty key (q34's concat trick)
      val bk = sub.filter(size(col("shingles")) > 0)
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      val cand = bk.as("a").join(bk.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val tp = cand.join(gt, Seq("doc_a", "doc_b"), "left_semi").count()
      val nc = cand.count()
      sub.sparkSession.range(1).select(
        lit(name).as("scheme"), lit(nc).as("n_candidates"),
        lit(tp).as("n_true_pos"), lit(nTrue).as("n_ground_truth"),
        round(when(lit(nc) === 0, 0.0).otherwise(lit(tp) / lit(nc).cast("double")), 4)
          .as("precision"),
        round(when(lit(nTrue) === 0, 0.0).otherwise(lit(tp) / lit(nTrue).cast("double")), 4)
          .as("recall"))
    }
    scheme("b4r2", Seq(Seq(0, 1), Seq(2, 3), Seq(4, 5), Seq(6, 7)))
      .unionByName(scheme("b2r4", Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7))))
  }

  /** Prefix-filtered EXACT similarity join (the PPJoin family, Xiao et
    * al. 2008) — the scalable exact-threshold counterpart of the
    * LSH+verify pipeline: two docs with distinct-3-shingle Jaccard ≥ t
    * MUST share a shingle in their (|d| − ⌈t·|d|⌉ + 1)-shingle prefix
    * (t = 0.8) when both shingle lists are sorted by GLOBAL frequency
    * (rare first), so the candidate join explodes only prefixes, never
    * full documents, and rare-first ordering keeps the join key
    * near-unique. Shingles — not raw tokens — are the join vocabulary:
    * prefix filtering prunes in proportion to key rarity, and this
    * corpus's token vocabulary is deliberately tiny (every token is
    * common → token prefixes prune nothing) while its shingle space is
    * large. Everything is integer-exact: prefix length ⌈4n/5⌉ =
    * (4n+4) div 5 and the verification 5·|∩| ≥ 4·|∪| — no float ever
    * decides a pair, so the result is bit-identical on any engine.
    * Shuffles: the shingle-frequency aggregation, the per-doc sort,
    * the prefix-shingle candidate join, and the pair verify — each
    * keyed on a shingle or pair id, all |prefix|- or
    * |candidate|-bound. */
  def q170PrefixJoin(s: SparkSession, dir: String): DataFrame = {
    val td = docs(s, dir)
      .select(col("doc_id"), expr(s"array_distinct($shingles3)").as("td"))
      .transform(Materialize.persist(_))
    td.count()
    prefixJaccardPairs(td, 4, 5) // Jaccard >= 0.8, exact
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
        round(col("inter") / col("uni"), 4).as("jac"))
  }

  /** The PPJoin core shared by q170 (t = 4/5) and the LSH
    * oversized-bucket diversion (t = 1/2): exact Jaccard-threshold pairs
    * over a prepared (doc_id, td) frame of distinct shingle arrays.
    * Threshold is the rational tNum/tDen so prefix length
    * n − ⌈t·n⌉ + 1 = n − ((tNum·n + tDen − 1) div tDen) + 1 and the
    * verification tDen·|∩| ≥ tNum·|∪| stay integer-exact — no float ever
    * decides a pair. Output: (doc_a, doc_b, inter, uni), doc_a < doc_b. */
  private[graft] def prefixJaccardPairs(td: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    // tf stays an INLINE subquery on purpose (r19 measured decision): the
    // planner's size estimates walk through it, auto-broadcast it into
    // the ordered join AND auto-broadcast the prefix self-join below at
    // small candidate volumes. An eagerly-checkpointed tf becomes a
    // LogicalRDD leaf with default (huge) stats, the estimate chain dies,
    // and the candidate self-join flips BHJ → SortMergeJoin: measured
    // q288 6.4 → 10.0 s, q170 3.4 → 4.2 s at sf0.1. Estimates, not
    // counts, are the right tool exactly here.
    val tf = td.select(explode(col("td")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    // rare-first global order: (freq asc, tok asc) — deterministic
    val ordered = td.select(col("doc_id"), explode(col("td")).as("tok"))
      .join(tf, "tok")
      .groupBy(col("doc_id"))
      .agg(expr("sort_array(collect_list(struct(freq, tok)))").as("st"))
      .select(col("doc_id"),
        expr("transform(st, x -> x.tok)").as("sorted"),
        size(col("st")).cast("long").as("n"))
    // NO length filter on the candidate join (r19 measured decision): the
    // PPJoin length filter (min·tDen ≥ max·tNum) is output-neutral but
    // carrying |d| through the prefix explode pushed the self-join build
    // side past the auto-broadcast estimate at sf0.1 (BHJ → SMJ plan
    // flip, q288 6.4 → 9.8 s), and with this corpus's near-uniform doc
    // lengths it pruned nothing measurable once the estimate was nudged
    // back (q288 6.9 s, q170 +0.4 s — filter evaluation cost, no pruning
    // payoff). Revisit only on corpora with real length spread.
    val prefixed = ordered.withColumn("plen",
        expr(s"CAST(n - (($tNum * n + ${tDen - 1}) div $tDen) + 1 AS INT)"))
      .select(col("doc_id"),
        explode(expr("slice(sorted, 1, plen)")).as("ptok"))
    val cand = prefixed.as("a").join(prefixed.as("b"),
        col("a.ptok") === col("b.ptok") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(td.select(col("doc_id").as("doc_a"), col("td").as("ta")), "doc_a")
      .join(td.select(col("doc_id").as("doc_b"), col("td").as("tb")), "doc_b")
      .withColumn("inter", expr("size(array_intersect(ta, tb))").cast("long"))
      .withColumn("uni",
        expr("size(ta)").cast("long") + expr("size(tb)").cast("long") - col("inter"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
  }

  /** BM25 relevance scoring (Robertson/Sparck-Jones) — the retrieval
    * primitive a training-data pipeline uses for quality-by-relevance
    * filtering and hard-negative mining. k1=1.2, b=0.75, query =
    * three fixed corpus terms. The plan is built for 100 TB: the token
    * stream is pruned to the QUERY TERMS before any shuffle (the only
    * corpus-wide work is one explode+filter scan plus a 1-row stats
    * aggregate), the per-term document frequencies are a query-sized
    * broadcast, and the final score join touches only docs containing
    * at least one query term. Top-20 under a (score, doc_id) total
    * order, score rounded so both engines agree to the printed digit. */
  def q175Bm25(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("join", "hash", "scan")
    val d = docs(s, dir).select(col("doc_id"), col("toks"))
    val stats = d.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("toks")).cast("double")).as("avgdl"))
    val tf = d.select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(qTerms: _*)) // prune BEFORE the shuffle
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dft = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    tf.join(broadcast(dft), "term").crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id")).agg(round(sum(col("contrib")), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
  }

  /** Pseudo-relevance-feedback query expansion (the RM3 shape): run the
    * q175 BM25 query, take its top-3 feedback documents, and rank
    * candidate expansion terms by length-normalized term mass Σ tf/dl
    * across the feedback set (query terms excluded) — the relevance-
    * model estimate a sparse retrieval stack adds to the query before
    * the second pass. Per-doc contributions quantize to micro-longs
    * (one exact IEEE division each) so the cross-doc sum is
    * order-independent; ranking is an integer sort with a term
    * tiebreak, cut by TakeOrdered. Feedback set is broadcast-joined —
    * corpus scanned once; candidate table bounded by 3 docs' vocab. */
  def q312PrfExpansion(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("join", "hash", "scan")
    val top = q175Bm25(s, dir)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(3)
      .select(col("doc_id"))
    val tf = docs(s, dir).select(col("doc_id"), col("toks"))
      .join(broadcast(top), "doc_id")
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .filter(!col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("cm", round(lit(1e6) * (col("tf") / col("dl"))).cast("long"))
    tf.groupBy(col("term"))
      .agg(sum(col("cm")).as("wm"),
        countDistinct(col("doc_id")).as("nd"))
      .orderBy(col("wm").desc, col("term").asc).limit(8)
      .select(col("term"), (col("wm").cast("double") / 1e6).as("w"),
        col("nd"))
  }

  /** Neyman-allocation sampling DESIGN — the statistically optimal
    * per-stratum sample sizes for a fixed annotation/eval budget
    * (n_h ∝ N_h·S_h: big AND internally-varied sources deserve more
    * labels than big-but-uniform ones — the survey-sampling allocation
    * rule, applied to per-source quality scores). Within-stratum
    * std dev computes in EXACT integer algebra on the 1e4 quality
    * micro-carrier: n·Σx² − (Σx)² is evaluated in WIDE integers
    * (Spark decimal(38,0), DuckDB HUGEINT) because (Σx)² ≤ n²·1e8
    * overflows Long once a stratum passes ~3×10⁵ docs — Spark would
    * wrap silently where DuckDB errors, breaking both the result and
    * cross-engine parity. decimal(38,0) holds the product exactly to
    * n ≈ 10¹⁵; the single cast-to-double of the same exact integer
    * rounds identically on both engines, then one IEEE sqrt per
    * stratum, and the budget apportions by the q219
    * largest-remainder machinery on integer weights, so Σseats = B by
    * construction on both engines. One corpus scan; everything after
    * the per-source aggregation runs on the strata table (persist(),
    * not localCheckpoint — the audit-visible bounded-provenance rule). */
  def q313NeymanAllocation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 100L
    val q4 = round(col("quality") * 1e4).cast("long")
    val strata = q40Quality(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("source"), q4.as("q4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("q4")).as("s1"),
        sum(col("q4") * col("q4")).as("s2"))
      .withColumn("sh", sqrt(
        (col("n").cast("decimal(38,0)") * col("s2").cast("decimal(38,0)") -
          col("s1").cast("decimal(38,0)") * col("s1").cast("decimal(38,0)"))
          .cast("double") /
          (col("n").cast("double") * col("n").cast("double"))))
      .withColumn("wq",
        round(col("n").cast("double") * col("sh")).cast("long"))
      .transform(Materialize.persist(_))
    val tot = strata.agg(greatest(sum(col("wq")), lit(1L)).as("W"))
    val quota = strata.crossJoin(broadcast(tot))
      .withColumn("fl", expr(s"$B * wq div W"))
      .withColumn("r", expr(s"($B * wq) % W"))
    val deficit = quota.agg((lit(B) - sum(col("fl"))).as("deficit"))
    quota.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("r").desc, col("source").asc)))
      .select(col("source"), col("n"), round(col("sh"), 4).as("sh"),
        (col("fl") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
          .as("seats"))
  }

  /** Hash-stratified sampling — per-source keep rates applied through a
    * deterministic doc_id hash bucket, the way a corpus mixer downweights
    * low-quality sources. ZERO shuffles: the keep decision is a codegen'd
    * row predicate, so at 100 TB sampling costs one scan and the sample
    * is reproducible across engines, runs, and cluster sizes (no RNG,
    * no seed plumbing — the hash IS the seed). Changing the mix never
    * re-reads kept history: the bucket of a doc is fixed forever, so a
    * rate bump from 20→50 only ADDS docs (nested samples), the property
    * incremental corpus rebuilds rely on. */
  def q176StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    val rate = when(col("source").isin("src0", "src1", "src2", "src3"), 50L)
      .when(col("source").isin("src4", "src5", "src6", "src7"), 20L)
      .otherwise(5L)
    Tables.documents(s, dir).filter(bucket < rate)
      .select(col("doc_id"), col("source"))
  }

  /** Deterministic per-source reservoir (k=5) via the BottomK typed
    * Aggregator: the k lexically-smallest md5(doc_id) keys per source.
    * Equivalent to `row_number() OVER (PARTITION BY source ORDER BY
    * md5(id)) <= k` — but the window form SORTS every partition's full
    * data, while the aggregator carries a bounded k-element mergeable
    * buffer through ordinary map-side combine: per-group state is O(k)
    * regardless of source size, the shape that survives a 100 TB source.
    * The doc_id rides the key behind the hash (collision-free tiebreak),
    * so the reservoir is uniform-at-random w.r.t. the hash yet exactly
    * reproducible. */
  def q177ReservoirPerSource(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), concat(md5(col("doc_id").cast("string")),
        lit(":"), col("doc_id").cast("string")).as("k"))
      .groupBy(col("source"))
      .agg(graft.functions.BottomK.bottomK(col("k"), 5).as("ks"))
      .select(col("source"), explode(col("ks")).as("k"))
      .select(col("source"),
        split(col("k"), ":").getItem(1).cast("long").as("doc_id"))

  /** Token-budget waterfilling — the allocation step of corpus mixing:
    * given per-source token capacities C_s (measured from the corpus in
    * one partial-agg pass), mixing weights w_s, and a total token budget
    * T, allocate a_s = min(C_s, w_s·λ) with Σa_s = T (every under-weight
    * source saturates at its capacity; the rest share the remainder in
    * weight proportion). The classic iterative waterfill is solved
    * CLOSED-FORM in two window passes: sort sources by capacity/weight
    * ratio, then a source saturates iff its ratio clears the budget
    * still unallocated over the weight still unsaturated — decided by
    * EXACT integer cross-multiplication (C_j·Wrem ≤ w_j·Trem), never a
    * float comparison, so both engines pick the identical saturated
    * prefix and the one final division is bit-reproducible IEEE. The
    * window runs over #strata rows (sources, not documents) — at
    * millions of strata the cumsums two-phase the usual way; the corpus
    * itself is touched exactly once. */
  def q178MixtureWaterfill(s: SparkSession, dir: String): DataFrame = {
    val caps = docs(s, dir)
      .groupBy(col("source"))
      .agg(sum(size(col("toks"))).cast("long").as("cap"))
      .withColumn("w",
        when(col("source").isin("src0", "src1", "src2", "src3"), 3L)
          .when(col("source").isin("src4", "src5", "src6", "src7"), 2L)
          .otherwise(1L))
    // budget = 60% of the corpus, floored to an exact integer
    waterfillAlloc(caps, budgetExpr = "totC * 3 div 5")
  }

  /** The waterfill core over an explicit (source, cap, w) strata table;
    * `budgetExpr` is an integer SQL expression over `totC` (total
    * capacity). Factored out so the law-based spec can drive it with
    * arbitrary strata. See [[q178MixtureWaterfill]] for the algorithm
    * and determinism notes. */
  private[graft] def waterfillAlloc(caps0: DataFrame,
                                    budgetExpr: String,
                                    twoPhaseThreshold: Long = 10000L): DataFrame = {
    // the strata table is strata-sized but derives from a CORPUS-sized
    // aggregation, and the closed-form solve references it from four
    // branches (totals, cumsums, first-fail, pool) — materialize once so
    // the corpus pays exactly one pass. persist, NOT localCheckpoint:
    // the cached plan keeps the aggregate provenance visible, so the
    // posture audit can PROVE the ranking window reads a strata-bounded
    // table (a checkpoint erases it into a bare RDD scan)
    val caps = Materialize.persist(caps0)
    // the cumsum'd frame is ALSO referenced four ways downstream —
    // materialize it too, so the window pipeline (and at scale, the
    // bucket machinery) runs once, not once per branch
    val cum = waterfillCumsum(caps, budgetExpr, twoPhaseThreshold)
      .transform(Materialize.localCheckpoint(_))
      // exact saturation test: cap·(W−cumW) ≤ w·(T−cumC), all BIGINT
      .withColumn("cond",
        col("cap") * (col("totW") - col("cumW")) <=
          col("w") * (col("budget") - col("cumC")))
    // the saturated set is the maximal prefix of consecutive true conds
    val firstFail = cum.agg(min(when(!col("cond"), col("pos"))).as("ff"))
    val flagged = cum.crossJoin(broadcast(firstFail))
      .withColumn("saturated", col("ff").isNull || col("pos") < col("ff"))
    // pool the saturated prefix once, then one IEEE division for λ
    val pool = flagged.agg(
      sum(when(col("saturated"), col("cap")).otherwise(0L)).as("satC"),
      sum(when(col("saturated"), col("w")).otherwise(0L)).as("satW"))
    flagged.crossJoin(broadcast(pool))
      .withColumn("alloc",
        when(col("saturated"), col("cap").cast("double"))
          .otherwise(round(col("w") * (col("budget") - col("satC")) * 1.0 /
            (col("totW") - col("satW")), 4)))
      .select(col("source"), col("cap"), col("w"), col("saturated"),
        col("alloc"))
  }

  /** The waterfill's exclusive prefix sums (cumC, cumW) and 1-based rank
    * (pos) over the (ratio = cap/w, source) total order, plus totals and
    * budget columns. Two shapes, switched on strata count: up to the
    * threshold, one ordered window (strata = sources — dozens to
    * thousands — so a single-partition sort is fine); above it, the
    * two-phase q113 shape — order-ALIGNED range buckets from ratio
    * quantiles, per-bucket partial sums, a window over the ≤256-row
    * bucket summary for offsets, then bucket-partitioned cumsums. Any
    * monotone boundary set is EXACT (bucket(x) = #{b < ratio(x)} is
    * monotone in ratio and ratio ties always share a bucket, so
    * (bucket, ratio, source) is the same total order); quantiles just
    * keep buckets balanced. The ≤255-double boundary read is the one
    * driver-side collect (bounded, like the closure's convergence
    * reads). `caps` must already be materialized. */
  private[graft] def waterfillCumsum(caps: DataFrame, budgetExpr: String,
                                     twoPhaseThreshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nStrata = caps.count() // cheap: reads the checkpointed blocks
    val tot = caps.agg(sum(col("cap")).as("totC"), sum(col("w")).as("totW"))
    val base = caps.crossJoin(broadcast(tot))
      .withColumn("budget", expr(budgetExpr))
      .withColumn("ratio", col("cap") * 1.0 / col("w"))
    if (nStrata <= twoPhaseThreshold) {
      val ord = Window.orderBy(col("ratio"), col("source"))
      base
        .withColumn("cumC", sum(col("cap")).over(ord) - col("cap"))
        .withColumn("cumW", sum(col("w")).over(ord) - col("w"))
        .withColumn("pos", row_number().over(ord).cast("long"))
    } else {
      val qs = caps.withColumn("ratio", col("cap") * 1.0 / col("w"))
        .stat.approxQuantile("ratio",
          (1 until 256).map(_ / 256.0).toArray, 0.001)
        .distinct.sorted
      val bs = array(qs.map(lit(_)): _*)
      val bucketed = base.withColumn("bucket",
        size(filter(bs, b => col("ratio") > b)).cast("long"))
      val inB = Window.partitionBy(col("bucket"))
        .orderBy(col("ratio"), col("source"))
      val byB = Window.orderBy(col("bucket")) // bucket summary: ≤256 rows
      val offsets = bucketed.groupBy(col("bucket"))
        .agg(sum(col("cap")).as("bC"), sum(col("w")).as("bW"),
          count(lit(1)).as("bN"))
        .withColumn("offC",
          coalesce(sum(col("bC")).over(byB) - col("bC"), lit(0L)))
        .withColumn("offW",
          coalesce(sum(col("bW")).over(byB) - col("bW"), lit(0L)))
        .withColumn("offN",
          coalesce(sum(col("bN")).over(byB) - col("bN"), lit(0L)))
        .select(col("bucket"), col("offC"), col("offW"), col("offN"))
      bucketed.join(broadcast(offsets), "bucket")
        .withColumn("cumC",
          col("offC") + sum(col("cap")).over(inB) - col("cap"))
        .withColumn("cumW",
          col("offW") + sum(col("w")).over(inB) - col("w"))
        .withColumn("pos",
          col("offN") + row_number().over(inB).cast("long"))
    }
  }

  /** Curriculum difficulty binning — deciles of per-doc unigram surprisal
    * (q152's KenLM stand-in), the ordering signal a curriculum or
    * difficulty-aware sampler consumes. NOT ntile (a global rank would
    * sort the corpus in one partition), and NOT interpolated percentiles
    * (the `a + f·(b−a)` vs `(1−f)·a + f·b` formula split between engines
    * flips boundary docs at the last ulp — measured at sf0.001). Instead
    * DISCRETE boundaries with exact integer rank logic: boundary k = the
    * smallest score value whose cumulative count reaches ⌈k·n/10⌉, found
    * on the (value, count) table — cardinality-bounded, NOT corpus-bounded
    * — so every comparison is between data values both engines hold
    * bit-identically. Docs then bucket against the broadcast boundary
    * array with a codegen'd filter-count: the corpus is scanned once and
    * bin assignment is embarrassingly parallel. */
  def q179DifficultyBins(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = q152UnigramSurprisal(s, dir)
    // (value, count) table + running count over DISTINCT values — the
    // single-partition window is over score cardinality, not docs
    val n1 = sc.agg(count(lit(1)).as("n"))
    val cum = sc.groupBy(col("surprisal")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("surprisal"))))
      .crossJoin(broadcast(n1))
    // all nine boundaries from ONE conditional aggregation (the q287
    // convention): nine filtered-agg branches would replicate the
    // cumsum window subtree nine times in the plan
    val bExprs = (1 to 9).map { k =>
      min(when(col("cum") >= expr(s"(n * $k + 9) div 10"),
        col("surprisal"))).as(s"b$k")
    }
    val bounds = cum.agg(bExprs.head, bExprs.tail: _*)
      .select(array((1 to 9).map(k => col(s"b$k")): _*).as("bs"))
    sc.crossJoin(broadcast(bounds))
      .withColumn("bin", expr("size(filter(bs, b -> surprisal > b))"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("surprisal")), 4).as("lo"),
        round(max(col("surprisal")), 4).as("hi"),
        round(avg(col("n_toks")), 2).as("avg_toks"))
  }

  /** DSIR importance resampling (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — rank raw-corpus docs
    * by how target-like their hashed-n-gram profile is, the selection
    * step a pretraining pipeline runs between quality filtering and
    * mixing. Features are unigrams + bigrams hashed into B=512 buckets
    * (md5 — identical hex both engines); the target exemplar is the
    * src0 slice; both bag-of-buckets models are Laplace-smoothed; a
    * doc's log importance weight is
    *   Σ_k c_k · ( ln((t_k+1)/(T+B)) − ln((r_k+1)/(R+B)) )
    * over its own bucket counts c_k. Output: top-50 under the total
    * (weight desc, doc_id) order — the deterministic head a Gumbel
    * resampler would draw from.
    *
    * 100 TB posture: ONE n-gram explode scan is persisted and reused by
    * the raw model, the target model, and the doc profiles; both models
    * are B-row (512) broadcasts; profiles aggregate (doc_id, bucket)
    * with map-side partials — the scoring join touches B-sized state,
    * never a per-occurrence join. The per-bucket log-ratio rounds to
    * 6dp BEFORE the weighted sum and the weight to 4dp after
    * (round-before-use — no summation-order drift). */
  def q192DsirResample(s: SparkSession, dir: String): DataFrame = {
    val B = 512
    val ngrams = docs(s, dir)
      .select(col("doc_id"), col("source"), explode(expr(
        "concat(toks, IF(size(toks) >= 2, " +
          "transform(sequence(1, size(toks)-1), " +
          "i -> concat_ws(' ', toks[i-1], toks[i])), " +
          "CAST(array() AS ARRAY<STRING>)))")).as("ng"))
      .withColumn("bucket",
        conv(substring(md5(col("ng")), 1, 4), 16, 10).cast("long") % B)
      .transform(Materialize.persist(_))
    ngrams.count()
    val raw = ngrams.groupBy(col("bucket")).agg(count(lit(1)).as("rk"))
    val tgt = ngrams.filter(col("source") === "src0")
      .groupBy(col("bucket")).agg(count(lit(1)).as("tk"))
    // every target bucket exists in raw (target ⊂ raw), so the left
    // join covers the full support; absent target buckets smooth to 1
    val lr = raw.join(tgt, Seq("bucket"), "left").na.fill(0L, Seq("tk"))
      .crossJoin(broadcast(raw.agg(sum(col("rk")).cast("double").as("rtot"))))
      .crossJoin(broadcast(tgt.agg(sum(col("tk")).cast("double").as("ttot"))))
      .select(col("bucket"), round(
        log((col("tk") + 1) / (col("ttot") + B)) -
          log((col("rk") + 1) / (col("rtot") + B)), 6).as("lr"))
    val prof = ngrams.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    prof.join(broadcast(lr), "bucket")
      .groupBy(col("doc_id"))
      .agg(round(sum(col("c") * col("lr")), 4).as("dsir_w"))
      .orderBy(col("dsir_w").desc, col("doc_id").asc).limit(50)
  }

  /** Per-source distribution-drift monitor: KL(source ‖ corpus) over
    * hashed unigram bucket models — the check a pipeline runs per crawl
    * snapshot or per source before mixing (a source whose divergence
    * jumps between snapshots changed its crawler, its boilerplate, or
    * its language mix). Same hashed-model machinery as q192 but
    * summarized per SOURCE, not per doc: B=256 md5 buckets, Laplace
    * smoothing on both sides, KL summed over the FULL bucket support
    * (the sources × 256 grid — absent buckets carry their smoothed
    * mass, so KL is well-defined and non-negative).
    *
    * 100 TB posture: one token explode scan with map-side partials into
    * (source, bucket) counts — the only corpus-sized work; everything
    * after runs on the |sources|·256 grid. Per-bucket terms round to
    * 8dp before the sum, KL to 4 after (round-before-use). */
  /** (source, bucket, c) hashed-unigram count partials for a (source,
    * toks) frame — the corpus-sized pass of the drift monitor; shared by
    * q194 and the streaming sink twin (whose per-trigger partials merge
    * by plain addition, which is what makes the monitor streamable). */
  private[graft] def klCountPartials(d: DataFrame, B: Int = 256): DataFrame =
    d.select(col("source"), explode(col("toks")).as("term"))
      .withColumn("bucket",
        conv(substring(md5(col("term")), 1, 4), 16, 10).cast("long") % B)
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** The grid-sized tail of the drift monitor: KL(source ‖ corpus) from
    * (source, bucket, c) partials. Corpus totals derive from the same
    * partials, so a running count state is all a streaming twin needs. */
  private[graft] def klFromCounts(sources: DataFrame, sc: DataFrame,
                                  B: Int = 256): DataFrame = {
    val s = sc.sparkSession
    val ct = sc.groupBy(col("bucket")).agg(sum(col("c")).as("ct"))
    val grid = sources.crossJoin(s.range(B).select(col("id").as("bucket")))
    val nSrc = sc.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val nTot = ct.agg(sum(col("ct")).cast("double").as("nt"))
    grid.join(sc, Seq("source", "bucket"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(ct), Seq("bucket"), "left").na.fill(0L, Seq("ct"))
      .join(broadcast(nSrc), Seq("source"))
      .crossJoin(broadcast(nTot))
      .withColumn("p", (col("c") + 1) / (col("ns") + B))
      .withColumn("q", (col("ct") + 1) / (col("nt") + B))
      .withColumn("term_kl", round(col("p") * log(col("p") / col("q")), 8))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_terms"),
        round(sum(col("term_kl")), 4).as("kl"))
  }

  def q194SourceKlDrift(s: SparkSession, dir: String): DataFrame =
    klFromCounts(
      Tables.documents(s, dir).select(col("source")).distinct(),
      klCountPartials(docs(s, dir)))

  /** Content-defined chunk dedup — the insertion-robust counterpart of
    * q123's FIXED chunks: a chunk boundary falls after token i exactly
    * when the md5 of the 4-gram ending at i starts with hex '0'
    * (p = 1/16 → ~16-token mean chunks), so inserting a sentence shifts
    * only the chunks it touches while fixed-width chunking re-aligns
    * the whole tail (the rsync/LBFS rolling-boundary idea applied to
    * token streams). Chunks hashing identically across ≥2 distinct
    * docs are the shared-content report — sub-document boilerplate the
    * doc-level dedups (q33/q34) cannot see.
    *
    * 100 TB posture: one posexplode scan; the boundary flag is a
    * codegen'd expression over the doc's own token array (no
    * cross-row state); chunk numbering is a DOC-partitioned running
    * sum and chunk assembly groups on the same (doc_id, …) key — the
    * window's shuffle is reused, no second exchange; the final
    * chunk-hash aggregation is the only other shuffle. */
  /** The CDC chunker core: (doc_id, toks) → (doc_id, chunk_no, chunk),
    * boundary after token i iff md5 of the 4-gram ending at i starts
    * with hex '0'. Shared by q195 and the insertion-robustness spec. */
  private[graft] def cdcChunks(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = d
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("i", "tok")))
      .withColumn("flag", expr(
        "IF(i >= 3 AND substring(md5(concat_ws(' ', " +
          "slice(toks, i - 2, 4))), 1, 1) = '0', 1, 0)"))
      .drop("toks")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pos
      .withColumn("chunk_no", coalesce(sum(col("flag")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_no"))
      .agg(expr("concat_ws(' ', transform(" +
        "sort_array(collect_list(struct(i, tok))), x -> x.tok))")
        .as("chunk"))
  }

  /** Sub-document dedup REWRITE with first-occurrence-wins (the
    * C4/Dolma paragraph-dedup move, on CDC chunks so it is
    * insertion-robust): every chunk occurrence keeps iff it is the
    * GLOBALLY FIRST occurrence of its content hash ((doc_id, chunk_no)
    * order — later copies of boilerplate drop, the original survives),
    * then each doc reassembles from its kept chunks in order. q195
    * REPORTS shared chunks; this executes the drop and prices it per
    * doc: kept/dropped chunk counts, kept token count, and the md5 of
    * the rewritten text (a fully-duplicate doc rewrites to the empty
    * string). 100 TB posture: the corpus is touched once by the
    * chunker; first-occurrence is one window on the chunk-hash key and
    * reassembly groups on doc_id — two shuffles, both on near-uniform
    * keys; no pair join anywhere. */
  def q207ChunkDedupRewrite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = cdcChunks(docs(s, dir)).withColumn("h", md5(col("chunk")))
    val wFirst = Window.partitionBy(col("h"))
      .orderBy(col("doc_id").asc, col("chunk_no").asc)
    chunks.withColumn("rn", row_number().over(wFirst))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") =!= 1, 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(col("rn") === 1,
          size(split(col("chunk"), " ")).cast("long"))), lit(0L))
          .as("n_toks_kept"),
        md5(concat_ws(" ", expr(
          "transform(sort_array(collect_list(" +
            "IF(rn = 1, struct(chunk_no, chunk), NULL))), x -> x.chunk)")))
          .as("new_md5"))
  }

  def q195CdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunks(docs(s, dir))
      .groupBy(md5(col("chunk")).as("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"), min(col("doc_id")).as("rep_doc"))
      .filter(col("n_docs") >= 2)

  /** WEIGHTED per-source reservoir (k=5) — q177's uniform reservoir
    * upgraded to size-biased sampling via deterministic exponential
    * clocks (Efraimidis–Spirakis A-ES): each doc draws
    * u ∈ (0,1) from the md5 of its id (the hash IS the seed, as in
    * q176/q177) and gets key −ln(u)/w with w = n_chars; the k SMALLEST
    * keys per source are a weighted-without-replacement sample — a doc
    * is drawn with probability proportional to its length, the
    * token-mass-preserving way to subsample a source. The key encodes
    * as an 18-digit fixed-point string (round-to-long at 1e-8, doc_id
    * tiebreak riding behind it), so the same BottomK typed Aggregator
    * as q177 carries O(k) mergeable state per source through map-side
    * combine — no per-source sort, no window, at any source size. */
  def q196WeightedReservoir(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("u",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") + 1) / lit(4294967297L))
      .withColumn("kk",
        round((-log(col("u")) / col("n_chars")) * 1e8).cast("long"))
      .select(col("source"), concat(
        lpad(col("kk").cast("string"), 18, "0"), lit(":"),
        lpad(col("doc_id").cast("string"), 10, "0")).as("k"))
      .groupBy(col("source"))
      .agg(graft.functions.BottomK.bottomK(col("k"), 5).as("ks"))
      .select(col("source"), explode(col("ks")).as("k"))
      .select(col("source"),
        split(col("k"), ":").getItem(1).cast("long").as("doc_id"))

  /** Stupid Backoff scoring (Brants et al. 2007, "Large Language Models
    * in Machine Translation") — the held-out LM filter q152/q156 build
    * toward: bigram counts TRAIN on the even-doc_id half, the odd half
    * SCORES against them, and a position whose bigram was never seen
    * backs off to 0.4·unigram (0.4²·1/total when even the unigram is
    * unseen — the deterministic bottom rung). Per doc: mean −ln(S),
    * plus the exact count of backed-off positions (an integer, so the
    * interesting column is float-free). Unlike q156, scoring held-out
    * text makes the backoff path REAL — the train side has never seen
    * the scored docs' transitions.
    *
    * Scale shape: train-side counts are two map-side-partial
    * aggregations; the scoring stream left-joins them on the bigram /
    * unigram key (broadcast while the vocab is small, shuffle join
    * beyond); per-doc mean is the last shuffle. */
  def q199StupidBackoff(s: SparkSession, dir: String): DataFrame = {
    val bg = docs(s, dir)
      .select(col("doc_id"), explode(expr(
        "IF(size(toks) >= 2, transform(sequence(1, size(toks)-1), " +
          "i -> struct(toks[i-1] AS w1, toks[i] AS w2)), " +
          "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .transform(Materialize.persist(_))
    bg.count()
    val train = bg.filter(col("doc_id") % 2 === 0)
    val cbg = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cbg"))
    val cpre = train.groupBy(col("w1")).agg(count(lit(1)).as("cpre"))
    val cuni = train.groupBy(col("w2")).agg(count(lit(1)).as("cuni"))
    val total = train.agg(count(lit(1)).cast("double").as("total"))
    bg.filter(col("doc_id") % 2 === 1)
      .join(cbg, Seq("w1", "w2"), "left")
      .join(cpre, Seq("w1"), "left")
      .join(cuni, Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .withColumn("sb", when(col("cbg").isNotNull,
          col("cbg") / col("cpre"))
        .when(col("cuni").isNotNull,
          lit(0.4) * col("cuni") / col("total"))
        .otherwise(lit(0.16) / col("total")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cbg").isNull, 1L).otherwise(0L)).as("n_backoff"),
        round(avg(-log(col("sb"))), 4).as("score"))
  }

  /** Shingle-containment verification over CDC-chunk candidates — the
    * PASSAGE-INCLUSION dedup the Jaccard family structurally misses: a
    * short doc fully embedded in a long one has low Jaccard (the union
    * is large) and rarely collides in minhash bands (minhash estimates
    * Jaccard, not containment), but the embedded region's
    * content-defined chunks re-align EXACTLY, so q195's chunker is the
    * right candidate generator. Pairs sharing a chunk (chunk buckets
    * capped at 50 docs — a >50-doc chunk is boilerplate, q195's report
    * covers it) verify by exact distinct-3-shingle containment
    * |A∩B| / min(|A|,|B|) ≥ 0.5, decided integer-exactly
    * (2·inter ≥ mn) before the rounded ratio is emitted.
    *
    * 100 TB posture: candidates are chunk-bucket joins (never
    * corpus²), the verify joins are pair-list-bound, and the cap makes
    * a boilerplate mega-chunk cost 0 pairs here instead of B²/2. */
  def q200ContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val td = d.select(col("doc_id"), expr(s"array_distinct($shingles3)").as("sd"))
      .transform(Materialize.persist(_))
    td.count()
    val ch = cdcChunks(d.select(col("doc_id"), col("toks")))
      .select(col("doc_id"), md5(col("chunk")).as("chash")).distinct()
      .transform(Materialize.persist(_))
    ch.count()
    val cand = ch.groupBy(col("chash")).agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, 50)).select(col("chash"))
    val side = ch.join(cand, Seq("chash"), "left_semi")
    val pairs = side.as("a").join(side.as("b"),
        col("a.chash") === col("b.chash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(td.select(col("doc_id").as("doc_a"), col("sd").as("sa")), "doc_a")
      .join(td.select(col("doc_id").as("doc_b"), col("sd").as("sb")), "doc_b")
      .withColumn("inter", expr("size(array_intersect(sa, sb))").cast("long"))
      .withColumn("mn",
        least(expr("size(sa)"), expr("size(sb)")).cast("long"))
      .filter(col("mn") > 0 && col("inter") * 2 >= col("mn"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("inter") / col("mn"), 4).as("containment"))
  }

  /** Bloom-filter decontamination — q116's SCALE PATH: q116 broadcasts
    * the eval n-gram set exactly, which stops working when the eval
    * suite outgrows executor memory; here the eval set compresses into
    * a 2^16-bit Bloom filter (2048 32-bit words, 4 md5-derived probes
    * per gram), the corpus probes the broadcast filter first, and only
    * the Bloom SURVIVORS reach the exact join — at 100 TB the exact
    * join's left side shrinks from every-train-gram to
    * (true hits + deterministic false positives). Both engines derive
    * the same probes from the same md5 hex, so even the false
    * positives hash-match: the output carries n_candidates (Bloom
    * hits, the FP-rate audit) alongside n_hits (exact, = q116).
    * A candidate row with n_hits = 0 is a measured false positive. */
  /** Probe-array SQL shared by the Bloom build and probe sides: probe j
    * reads hex nibbles [4j, 4j+4) of md5(g) — a 16-bit position split
    * into (word = p div 32, bit = p % 32); 32-bit words keep every mask
    * positive, no sign/shift edge cases in either engine. */
  private[graft] val bloomProbesSql = (0 until 4).map { j =>
    val off = j * 4 + 1
    s"named_struct(" +
      s"'w', CAST(conv(substring(md5(g), $off, 4), 16, 10) AS BIGINT) div 32, " +
      s"'b', CAST(conv(substring(md5(g), $off, 4), 16, 10) AS BIGINT) % 32)"
  }.mkString(", ")

  /** 2^16-bit Bloom filter of a gram set as ≤2048 (word, mask) rows —
    * the broadcastable artifact of the decontamination scale path. */
  private[graft] def bloomWordsOf(evalGrams: DataFrame): DataFrame =
    evalGrams
      .select(explode(expr(s"array($bloomProbesSql)")).as("pb"))
      .select(col("pb.w").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pb.b AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("mask"))

  /** Distinct (doc_id, g) grams whose FOUR Bloom probes all hit — the
    * candidate set the exact join verifies. */
  private[graft] def bloomCandidates(grams: DataFrame,
                                     bloomWords: DataFrame): DataFrame =
    grams
      .select(col("doc_id"), col("g"),
        explode(expr(s"array($bloomProbesSql)")).as("pb"))
      .join(broadcast(bloomWords), col("pb.w") === col("w"))
      .filter(expr(
        "(mask & shiftleft(CAST(1 AS BIGINT), CAST(pb.b AS INT))) != 0"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("nh"))
      .filter(col("nh") === 4)
      .select(col("doc_id"), col("g"))

  def q201BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val g = docs(s, dir).select(col("doc_id"), explode(expr(fiveGrams)).as("g"))
      .transform(Materialize.persist(_))
    g.count()
    val evalGrams = g.filter(col("doc_id") < 20).select(col("g")).distinct()
    val train = g.filter(col("doc_id") >= 20)
      .select(col("doc_id"), col("g")).distinct()
    val candidates = bloomCandidates(train, bloomWordsOf(evalGrams))
    val exact = candidates.join(evalGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    candidates
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_candidates"))
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q201_bloom_decontaminate" -> q201BloomDecontaminate _,
    "q200_containment_join" -> q200ContainmentJoin _,
    "q199_stupid_backoff" -> q199StupidBackoff _,
    "q196_weighted_reservoir" -> q196WeightedReservoir _,
    "q195_cdc_chunks" -> q195CdcChunks _,
    "q207_chunk_dedup_rewrite" -> q207ChunkDedupRewrite _,
    "q208_context_windows" -> q208ContextWindows _,
    "q209_logreg_train" -> q209LogregTrain _,
    "q211_neardup_decontaminate" -> q211NeardupDecontaminate _,
    "q212_deletion_propagation" -> q212DeletionPropagation _,
    "q216_vocab_delta" -> q216VocabDelta _,
    "q217_html_extract" -> q217HtmlExtract _,
    "q218_bpe_encode" -> q218BpeEncode _,
    "q225_bpe_train" -> q225BpeTrain _,
    "q295_repetition_profile" -> q295RepetitionProfile _,
    "q296_tokenizer_fertility" -> q296TokenizerFertility _,
    "q300_weighted_sample" -> q300WeightedSample _,
    "q301_source_datasheet" -> q301SourceDatasheet _,
    "q302_chi_square" -> q302ChiSquare _,
    "q305_bradley_terry" -> q305BradleyTerry _,
    "q306_cohen_kappa" -> q306CohenKappa _,
    "q307_preference_pairs" -> q307PreferencePairs _,
    "q311_winrate_significance" -> q311WinrateSignificance _,
    "q312_prf_expansion" -> q312PrfExpansion _,
    "q313_neyman_allocation" -> q313NeymanAllocation _,
    "q315_fleiss_kappa" -> q315FleissKappa _,
    "q318_template_mining" -> q318TemplateMining _,
    "q319_sequence_packing" -> q319SequencePacking _,
    "q322_ngram_diversity" -> q322NgramDiversity _,
    "q323_effective_yield" -> q323EffectiveYield _,
    "q324_doremi_step"     -> q324DoremiStep _,
    "q325_vocab_coverage"  -> q325VocabCoverage _,
    "q326_canary_scan"     -> q326CanaryScan _,
    "q327_lsh_precision_sample" -> q327LshPrecisionSample _,
    "q329_epoch_plan"      -> q329EpochPlan _,
    "q330_soft_dedup"      -> q330SoftDedup _,
    "q331_novelty_curve"   -> q331NoveltyCurve _,
    "q333_global_vs_local_dedup" -> q333GlobalVsLocalDedup _,
    "q219_epoch_schedule" -> q219EpochSchedule _,
    "q224_oov_coverage" -> q224OovCoverage _,
    "q194_source_kl_drift" -> q194SourceKlDrift _,
    "q192_dsir_resample" -> q192DsirResample _,
    "q179_difficulty_bins" -> q179DifficultyBins _,
    "q180_source_overlap" -> q180SourceOverlap _,
    "q178_mixture_waterfill" -> q178MixtureWaterfill _,
    "q175_bm25"           -> q175Bm25 _,
    "q176_stratified_sample" -> q176StratifiedSample _,
    "q177_reservoir_per_source" -> q177ReservoirPerSource _,
    "q170_prefix_join"    -> q170PrefixJoin _,
    "q163_lsh_calibration" -> q163LshCalibration _,
    "q160_pii_redaction"  -> q160PiiRedaction _,
    "q162_pair_triangles" -> q162PairTriangles _,
    "q140_quality_rules"  -> q140QualityRules _,
    "q147_quality_calibration" -> q147QualityCalibration _,
    "q151_component_representative" -> q151ComponentRepresentative _,
    "q152_unigram_surprisal" -> q152UnigramSurprisal _,
    "q236_pmi_collocations" -> q236PmiCollocations _,
    "q243_viterbi_segment" -> q243ViterbiSegment _,
    "q245_corpus_build" -> q245CorpusBuild _,
    "q247_nb_train" -> q247NbTrain _,
    "q248_nb_score" -> q248NbScore _,
    "q253_edit_distance_join" -> q253EditDistanceJoin _,
    "q254_sorted_neighborhood" -> q254SortedNeighborhood _,
    "q263_epoch_shuffle" -> q263EpochShuffle _,
    "q265_linkage_funnel" -> q265LinkageFunnel _,
    "q266_zipf_fit" -> q266ZipfFit _,
    "q154_longest_run" -> q154LongestRun _,
    "q156_bigram_surprisal" -> q156BigramSurprisal _,
    "q141_incremental_dedup" -> q141IncrementalDedup _,
    "q143_candidate_verify" -> q143CandidateVerify _,
    "q144_corpus_funnel"  -> q144CorpusFunnel _,
    "q135_degree_histogram" -> q135DegreeHistogram _,
    "q134_stratum_cap"    -> q134StratumCap _,
    "q133_packing_efficiency" -> q133PackingEfficiency _,
    "q132_dedup_decision" -> q132DedupDecision _,
    "q130_bpe_step"       -> q130BpeStep _,
    "q123_chunk_dedup"    -> q123ChunkDedup _,
    "q124_mixture_weights" -> q124MixtureWeights _,
    "q125_cross_source_dups" -> q125CrossSourceDups _,
    "q126_quality_funnel" -> q126QualityFunnel _,
    "q121_vocabulary"     -> q121Vocabulary _,
    "q122_tfidf"          -> q122Tfidf _,
    "q116_decontaminate"  -> q116Decontaminate _,
    "q111_clean_text"     -> q111CleanText _,
    "q112_stratified_sample" -> q112StratifiedSample _,
    "q113_sequence_packing" -> q113SequencePacking _,
    "q114_repetition"     -> q114Repetition _,
    "q110_dedup_clusters" -> q110DedupClusters _,
    "q81_approx_stats"   -> q81ApproxStats _,
    "q55_bottomk_sketch" -> q55BottomKSketch _,
    "q267_hll_sketch" -> q267HllSketch _,
    "q268_count_min_sketch" -> q268CountMinSketch _,
    "q269_kmv_source_jaccard" -> q269KmvSourceJaccard _,
    "q271_split_leakage" -> q271SplitLeakage _,
    "q272_sliding_chunks" -> q272SlidingChunks _,
    "q273_bpe_train" -> q273BpeTrain _,
    "q274_histogram_quantiles" -> q274HistogramQuantiles _,
    "q275_group_kfold" -> q275GroupKfold _,
    "q276_winnowing" -> q276Winnowing _,
    "q280_token_entropy" -> q280TokenEntropy _,
    "q281_survivorship" -> q281Survivorship _,
    "q282_overlap_fraction" -> q282OverlapFraction _,
    "q284_inverted_index" -> q284InvertedIndex _,
    "q285_phrase_query" -> q285PhraseQuery _,
    "q286_nb_confusion" -> q286NbConfusion _,
    "q287_nb_calibration" -> q287NbCalibration _,
    "q288_lsh_pr_eval" -> q288LshPrEval _,
    "q289_term_burstiness" -> q289TermBurstiness _,
    "q290_top_terms_drift" -> q290TopTermsDrift _,
    "q292_robust_spread" -> q292RobustSpread _,
    "q293_contamination_by_source" -> q293ContaminationBySource _,
    "q56_simhash_pairs"  -> q56SimhashPairs _,
    "q58_train_test_split" -> q58TrainTestSplit _,
    "q61_length_quantiles" -> q61LengthQuantiles _,
    "q33_dedup_exact"   -> q33DedupExact _,
    "q34_minhash_lsh"   -> q34MinhashLsh _,
    "q35_simhash"       -> q35Simhash _,
    "q36_ngram_jaccard" -> q36NgramJaccard _,
    "q39_langid"        -> q39LangId _,
    "q40_quality"       -> q40Quality _,
    "q41_token_count"   -> q41TokenCount _,
    "q42_fingerprint"   -> q42Fingerprint _
  )

  private val shinglesSql =
    "list_transform(range(1, greatest(len(toks)-1, 1)), i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])"

  private val simhashSumsSql = (0 until 16).map { j =>
    val nib = j / 4 + 1
    val bp = 3 - (j % 4)
    s"list_sum(list_transform(toks, w -> CASE WHEN (((strpos('0123456789abcdef', substr(md5(w), $nib, 1)) - 1) >> $bp) & 1) = 1 THEN 1 ELSE -1 END)) AS b$j"
  }.mkString(",\n             ")

  private val simhashConcatSql = (0 until 16).map(j =>
    s"(CASE WHEN b$j >= 0 THEN '1' ELSE '0' END)").mkString("||")

  /** The q34 shingle→minhash→band CTE chain, shared by the q34 oracle and
    * the q110 component oracle (Kirsch–Mitzenmacher permutations — must
    * stay in lockstep with [[q34MinhashLsh]]). */
  /** The full q248 scoring chain as a CTE block ending in
    * `scored(doc_id, hq, score_micro, pred_hq)` — shared by q248 and the
    * model-evaluation queries (q286 confusion, q287 calibration) so the
    * evaluated scores can never drift from the scoring query. */
  private val nbScoreCtesSql =
    """d0 AS (SELECT doc_id, string_split(text, ' ') AS toks,
                       CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                            AS BIGINT) % 10 < 7 AS train
                     FROM documents),
         d AS (SELECT doc_id, toks, train,
                 round(least(1.0, len(toks) / 100.0) *
                   (1.0 - len(list_filter(toks, x -> x IN ('the','a','of','and')))
                          / CAST(len(toks) AS DOUBLE)), 4) >= 0.9 AS pos
               FROM d0),
         tok AS (SELECT pos, unnest(toks) AS token FROM d WHERE train),
         c AS (SELECT token,
                 CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
               FROM tok WHERE token <> '' GROUP BY 1),
         tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn,
                        count(*) AS v FROM c),
         m AS (SELECT token,
                 CAST(round((ln(n_pos + 1) - ln(tp + v)
                   - ln(n_neg + 1) + ln(tn + v)) * 962000) AS BIGINT) AS w_micro
               FROM c CROSS JOIN tot),
         b AS (SELECT CAST(round((ln(sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1)
                 - ln(sum(CASE WHEN pos THEN 0 ELSE 1 END) + 1)) * 962000)
                 AS BIGINT) AS bias_micro
               FROM d WHERE train),
         h AS (SELECT doc_id, pos AS hq, unnest(toks) AS token
               FROM d WHERE NOT train),
         sc AS (SELECT doc_id, hq, sum(w_micro) AS sw
                FROM h JOIN m ON h.token = m.token
                WHERE h.token <> '' GROUP BY 1, 2),
         scored AS (SELECT doc_id, hq,
                CAST(bias_micro + sw AS BIGINT) AS score_micro,
                bias_micro + sw > 0 AS pred_hq
         FROM sc CROSS JOIN b)"""

  private[graft] val minhashCtesSql =
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       sh AS (SELECT doc_id, $shinglesSql AS shingles FROM t),
       hp AS (SELECT doc_id, list_transform(list_transform(shingles, s -> md5(s)),
           h -> {'a': CAST(('0x'||substr(h, 1, 8)) AS BIGINT),
                 'b': CAST(('0x'||substr(h, 9, 8)) AS BIGINT)}) AS hp
         FROM sh),
       sig AS (SELECT doc_id,
         ${(0 until 8).map(i => s"list_min(list_transform(hp, p -> (p.a + $i * p.b) % 4294967296)) AS h$i").mkString(", ")}
         FROM hp),
       bands AS (
         ${(0 until 4).map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR||'_'||h${2 * b + 1}::VARCHAR) AS bkey FROM sig").mkString(" UNION ALL ")})"""

  /** CDC chunker CTE chain shared by the q195 and q200 oracles (must
    * stay in lockstep with [[cdcChunks]]): `ct` (doc_id, toks) through
    * `chunks` (doc_id, chunk_no, chunk). */
  private val cdcCtesSql =
    """ct AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       cpos0 AS (SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1)) AS i FROM ct),
       cpos AS (SELECT doc_id, i, toks[i] AS tok,
                  CASE WHEN i >= 4 AND substr(md5(
                      array_to_string(toks[i-3:i], ' ')), 1, 1) = '0'
                    THEN 1 ELSE 0 END AS flag
                FROM cpos0),
       cnum AS (SELECT doc_id, i, tok,
                  coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS chunk_no
                FROM cpos),
       chunks AS (SELECT doc_id, chunk_no,
                    string_agg(tok, ' ' ORDER BY i) AS chunk
                  FROM cnum GROUP BY 1, 2)"""

  val oracles: Map[String, String] = Map(
    "q201_bloom_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         g0 AS (SELECT doc_id, toks,
                  unnest(range(1, greatest(len(toks) - 3, 1))) AS i FROM t),
         g AS (SELECT doc_id, toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||
                 toks[i+3]||' '||toks[i+4] AS g FROM g0),
         ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
         train AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id >= 20),
         evp AS (SELECT CAST(('0x'||substr(md5(g), j*4+1, 4)) AS BIGINT) AS p
                 FROM ev, range(0, 4) r(j)),
         bloom AS (SELECT p // 32 AS w,
                     bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS mask
                   FROM evp GROUP BY 1),
         tp AS (SELECT doc_id, g,
                  CAST(('0x'||substr(md5(g), j*4+1, 4)) AS BIGINT) AS p
                FROM train, range(0, 4) r(j)),
         hits AS (SELECT doc_id, g, count(*) AS nh
                  FROM tp JOIN bloom ON bloom.w = tp.p // 32
                  WHERE (bloom.mask &
                    (CAST(1 AS BIGINT) << CAST(tp.p % 32 AS INT))) != 0
                  GROUP BY 1, 2),
         cand AS (SELECT doc_id, g FROM hits WHERE nh = 4),
         ex AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
                FROM cand c JOIN ev USING (g) GROUP BY 1)
         SELECT cd.doc_id, cd.n_candidates, coalesce(ex.n_hits, 0) AS n_hits
         FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates
               FROM cand GROUP BY 1) cd
         LEFT JOIN ex USING (doc_id)""",
    "q199_stupid_backoff" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
                FROM t),
         p AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
         train AS (SELECT * FROM p WHERE doc_id % 2 = 0),
         cbg AS (SELECT w1, w2, count(*) AS cbg FROM train GROUP BY 1, 2),
         cpre AS (SELECT w1, count(*) AS cpre FROM train GROUP BY 1),
         cuni AS (SELECT w2, count(*) AS cuni FROM train GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM train),
         sc AS (SELECT p.doc_id,
                  CASE WHEN cbg.cbg IS NOT NULL
                         THEN cbg.cbg / CAST(cpre.cpre AS DOUBLE)
                       WHEN cuni.cuni IS NOT NULL
                         THEN 0.4 * cuni.cuni / tot.total
                       ELSE 0.16 / tot.total END AS sb,
                  CASE WHEN cbg.cbg IS NULL THEN 1 ELSE 0 END AS backed
                FROM p
                LEFT JOIN cbg USING (w1, w2)
                LEFT JOIN cpre USING (w1)
                LEFT JOIN cuni USING (w2)
                CROSS JOIN tot
                WHERE p.doc_id % 2 = 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(backed) AS BIGINT) AS n_backoff,
                round(avg(-ln(sb)), 4) AS score
         FROM sc GROUP BY 1""",
    "q196_weighted_reservoir" ->
      """WITH d AS (SELECT source, doc_id,
             (CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
                + 1) / 4294967297 AS u,
             n_chars
           FROM documents),
         k AS (SELECT source, doc_id,
                 CAST(round((-ln(u) / n_chars) * 100000000) AS BIGINT) AS kk
               FROM d),
         r AS (SELECT source, doc_id, row_number() OVER (
                 PARTITION BY source ORDER BY kk, doc_id) AS rn FROM k)
         SELECT source, doc_id FROM r WHERE rn <= 5""",
    "q219_epoch_schedule" ->
      """WITH strata AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
              FROM documents GROUP BY 1),
         w AS (SELECT source, mass,
                 CAST(round(sqrt(CAST(mass AS DOUBLE)) * 1e6, 0) AS BIGINT)
                   AS w6
               FROM strata),
         t AS (SELECT CAST(sum(w6) AS BIGINT) AS wtot FROM w),
         q AS (SELECT source, mass, w6,
                 CAST(1000000 * w6 // wtot AS BIGINT) AS fl,
                 CAST((1000000 * w6) % wtot AS BIGINT) AS r
               FROM w, t),
         d AS (SELECT CAST(1000000 - sum(fl) AS BIGINT) AS deficit FROM q),
         rk AS (SELECT q.*, d.deficit,
                  row_number() OVER (ORDER BY r DESC, source) AS rk
                FROM q, d)
         SELECT source, mass,
                CAST(fl + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                  AS BIGINT) AS seats
         FROM rk""",
    "q224_oov_coverage" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents),
         vocab AS (SELECT tok FROM tok GROUP BY tok
                   ORDER BY count(*) DESC, tok LIMIT 200)
         SELECT t.source,
                CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov,
                round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS oov_rate
         FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
         GROUP BY t.source""",
    "q302_chi_square" ->
      """WITH cl AS (SELECT lang, source, count(*) AS o
               FROM documents GROUP BY 1, 2),
         r AS (SELECT lang, sum(o) AS rt FROM cl GROUP BY 1),
         c AS (SELECT source, sum(o) AS ct FROM cl GROUP BY 1),
         n AS (SELECT sum(o) AS n, count(DISTINCT lang) AS nl,
                      count(DISTINCT source) AS ns FROM cl),
         cells AS (SELECT cl.lang, cl.source, o, rt, ct, n.n, nl, ns,
                     CAST(o AS DOUBLE) AS od, CAST(rt AS DOUBLE) AS rtd,
                     CAST(ct AS DOUBLE) AS ctd, CAST(n.n AS DOUBLE) AS nd,
                     (CAST(o AS DOUBLE)*CAST(n.n AS DOUBLE)
                        - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE))
                     * (CAST(o AS DOUBLE)*CAST(n.n AS DOUBLE)
                        - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE))
                     / (CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)
                        *CAST(n.n AS DOUBLE)) AS contrib
                   FROM cl JOIN r USING (lang) JOIN c USING (source)
                   CROSS JOIN n),
         tot AS (SELECT CAST(sum(CAST(round(contrib*1e6) AS BIGINT))
                        AS BIGINT) AS chi2_micro FROM cells)
         SELECT lang, source, CAST(o AS BIGINT) AS o,
                round(rtd*ctd/nd, 4) AS expected,
                round(contrib, 6) AS contrib,
                round(chi2_micro/1e6, 4) AS chi2,
                CAST((nl-1)*(ns-1) AS BIGINT) AS dof
         FROM cells CROSS JOIN tot""",
    // q305: three MM iterations unrolled as CTEs; every division is one
    // IEEE op on exact micro-integer carriers, every sum a BIGINT sum —
    // the same op DAG the engine runs, so aggregation order is moot
    "q305_bradley_terry" ->
      """WITH comp AS (SELECT a.source AS sa, b.source AS sb,
                CASE WHEN b.n_chars > a.n_chars THEN b.source
                     ELSE a.source END AS winner
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
              WHERE a.source <> b.source),
         pairs AS (SELECT least(sa, sb) AS i, greatest(sa, sb) AS j,
                          count(*) AS nij
                   FROM comp GROUP BY 1, 2),
         wins AS (SELECT winner AS src, count(*) AS w
                  FROM comp GROUP BY 1),
         ed AS (SELECT i AS a2, j AS b2, nij FROM pairs
                UNION ALL SELECT j, i, nij FROM pairs),
         players AS (SELECT DISTINCT a2 AS src FROM ed),
         p0 AS (SELECT src, CAST(1000000 AS BIGINT) AS pm FROM players),
         d1 AS (SELECT e.a2 AS src,
                  sum(CAST(round(1e6 * (CAST(e.nij AS DOUBLE) /
                    (CAST(greatest(pa.pm + pb.pm, 1) AS DOUBLE) / 1e6)))
                    AS BIGINT)) AS dm
                FROM ed e JOIN p0 pa ON pa.src = e.a2
                          JOIN p0 pb ON pb.src = e.b2
                GROUP BY 1),
         r1 AS (SELECT d1.src,
                  CAST(round(1e6 * (CAST(coalesce(w.w, 0) AS DOUBLE) /
                    (CAST(greatest(dm, 1) AS DOUBLE) / 1e6)))
                    AS BIGINT) AS prm
                FROM d1 LEFT JOIN wins w ON w.src = d1.src),
         p1 AS (SELECT src, CAST(round(1e6 * (CAST(prm AS DOUBLE) /
                  CAST(sm AS DOUBLE))) AS BIGINT) AS pm
                FROM r1 CROSS JOIN (SELECT sum(prm) AS sm FROM r1)),
         d2 AS (SELECT e.a2 AS src,
                  sum(CAST(round(1e6 * (CAST(e.nij AS DOUBLE) /
                    (CAST(greatest(pa.pm + pb.pm, 1) AS DOUBLE) / 1e6)))
                    AS BIGINT)) AS dm
                FROM ed e JOIN p1 pa ON pa.src = e.a2
                          JOIN p1 pb ON pb.src = e.b2
                GROUP BY 1),
         r2 AS (SELECT d2.src,
                  CAST(round(1e6 * (CAST(coalesce(w.w, 0) AS DOUBLE) /
                    (CAST(greatest(dm, 1) AS DOUBLE) / 1e6)))
                    AS BIGINT) AS prm
                FROM d2 LEFT JOIN wins w ON w.src = d2.src),
         p2 AS (SELECT src, CAST(round(1e6 * (CAST(prm AS DOUBLE) /
                  CAST(sm AS DOUBLE))) AS BIGINT) AS pm
                FROM r2 CROSS JOIN (SELECT sum(prm) AS sm FROM r2)),
         d3 AS (SELECT e.a2 AS src,
                  sum(CAST(round(1e6 * (CAST(e.nij AS DOUBLE) /
                    (CAST(greatest(pa.pm + pb.pm, 1) AS DOUBLE) / 1e6)))
                    AS BIGINT)) AS dm
                FROM ed e JOIN p2 pa ON pa.src = e.a2
                          JOIN p2 pb ON pb.src = e.b2
                GROUP BY 1),
         r3 AS (SELECT d3.src,
                  CAST(round(1e6 * (CAST(coalesce(w.w, 0) AS DOUBLE) /
                    (CAST(greatest(dm, 1) AS DOUBLE) / 1e6)))
                    AS BIGINT) AS prm
                FROM d3 LEFT JOIN wins w ON w.src = d3.src),
         p3 AS (SELECT src, CAST(round(1e6 * (CAST(prm AS DOUBLE) /
                  CAST(sm AS DOUBLE))) AS BIGINT) AS pm
                FROM r3 CROSS JOIN (SELECT sum(prm) AS sm FROM r3))
         SELECT p3.src, coalesce(w.w, 0) AS w,
                CAST(p3.pm AS DOUBLE) / 1e6 AS p
         FROM p3 LEFT JOIN wins w ON w.src = p3.src""",
    "q311_winrate_significance" ->
      """WITH comp AS (SELECT a.source AS sa, b.source AS sb,
                CASE WHEN b.n_chars > a.n_chars THEN b.source
                     ELSE a.source END AS winner
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
              WHERE a.source <> b.source),
         pairs AS (SELECT least(sa, sb) AS i, greatest(sa, sb) AS j,
                          count(*) AS n,
                          CAST(sum(CASE WHEN winner = least(sa, sb)
                                   THEN 1 ELSE 0 END) AS BIGINT) AS wi
                   FROM comp GROUP BY 1, 2),
         zt AS (SELECT i, j, n, wi,
                  round((2.0 * CAST(wi AS DOUBLE) - CAST(n AS DOUBLE))
                        / sqrt(CAST(n AS DOUBLE)), 6) AS z
                FROM pairs)
         SELECT i, j, n, wi, z, abs(z) > 1.96 AS decisive FROM zt""",
    "q306_cohen_kappa" ->
      """WITH rated AS (SELECT source,
                CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS ra,
                CASE WHEN array_length(string_split(text, ' ')) >= 40
                     THEN 1 ELSE 0 END AS rb
              FROM documents),
         ct AS (SELECT source, count(*) AS n,
                  CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n11,
                  CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n10,
                  CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n01,
                  CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n00
                FROM rated GROUP BY source),
         k AS (SELECT source, n, n11, n10, n01, n00,
                 CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
                 (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                  + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
               FROM ct)
         SELECT source, n, n11, n10, n01, n00,
                round(po, 6) AS po, round(pe, 6) AS pe,
                CASE WHEN 1.0 - pe = 0.0 THEN NULL
                     ELSE round((po - pe) / (1.0 - pe), 6) END AS kappa
         FROM k""",
    "q307_preference_pairs" ->
      """WITH ranked AS (SELECT source, doc_id, n_chars,
                row_number() OVER (PARTITION BY source
                                   ORDER BY n_chars DESC, doc_id) AS r,
                count(*) OVER (PARTITION BY source) AS cnt
              FROM documents)
         SELECT c.source, c.r AS pos, c.doc_id AS chosen_id,
                j.doc_id AS rejected_id,
                c.n_chars - j.n_chars AS margin
         FROM ranked c JOIN ranked j
           ON j.source = c.source AND j.r = c.cnt - c.r + 1
         WHERE c.r <= 8 AND c.r < c.cnt - c.r + 1""",
    "q327_lsh_precision_sample" ->
      s"""WITH $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sampled AS (SELECT * FROM pairs
           WHERE substr(md5(CAST(doc_a AS VARCHAR)||':'
                 ||CAST(doc_b AS VARCHAR)), 1, 1) = '0'),
         sdx AS (SELECT doc_id, list_distinct($shinglesSql) AS sdist FROM t),
         ver AS (SELECT
             CAST(len(list_intersect(a.sdist, b.sdist)) AS BIGINT) AS inter,
             CAST(len(a.sdist) + len(b.sdist)
                  - len(list_intersect(a.sdist, b.sdist)) AS BIGINT) AS un
           FROM sampled s2 JOIN sdx a ON a.doc_id = s2.doc_a
                           JOIN sdx b ON b.doc_id = s2.doc_b),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(coalesce(sum(CASE WHEN un > 0 AND inter * 2 >= un
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true
           FROM ver),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM pairs)
         SELECT n_candidates, n_sampled, n_true,
                CASE WHEN n_sampled = 0 THEN NULL
                     ELSE round(CAST(n_true AS DOUBLE)
                                / CAST(n_sampled AS DOUBLE), 6)
                END AS precision
         FROM tot, ag""",
    "q301_source_datasheet" ->
      s"""WITH $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         dup AS (SELECT DISTINCT doc_id FROM (
                   SELECT doc_a AS doc_id FROM pairs
                   UNION ALL SELECT doc_b FROM pairs)),
         d AS (SELECT doc_id, source, string_split(text,' ') AS toks
               FROM documents),
         m AS (SELECT d.source,
                 CAST(len(toks) AS BIGINT) AS n_toks,
                 round(least(1.0, len(toks)/100.0) *
                   (1.0 - len(list_filter(toks, x ->
                      x IN ('the','a','of','and')))
                        / CAST(len(toks) AS DOUBLE)), 4) AS q,
                 CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dp
               FROM d LEFT JOIN dup ON dup.doc_id = d.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                round(sum(CAST(round(q * 1e4) AS BIGINT)) /
                  (count(*) * 10000.0), 4) AS mean_quality,
                round(sum(CASE WHEN q >= 0.9 THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 4) AS hq_share,
                round(sum(dp) / CAST(count(*) AS DOUBLE), 4)
                  AS dup_doc_share
         FROM m GROUP BY 1""",
    "q300_weighted_sample" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
               FROM documents),
         c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(toks, x -> x IN ('the','a','of','and')))
                      AS BIGINT) AS n_stop
               FROM t),
         q AS (SELECT doc_id,
                 round(least(1.0, n_tokens/100.0) * (1.0 - n_stop/n_tokens),
                       4) AS quality
               FROM c),
         k AS (SELECT doc_id, quality,
                 CAST(round(ln((CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),
                         1, 8)) AS BIGINT) + 1.0) / 4294967297.0) * 1e6)
                      AS BIGINT) AS lnu_micro,
                 CAST(round(quality * 1e4) AS BIGINT) AS w4
               FROM q WHERE quality > 0)
         SELECT doc_id, quality,
                CAST(lnu_micro AS DOUBLE) / w4 AS es_key
         FROM k ORDER BY es_key DESC, doc_id LIMIT 50""",
    "q295_repetition_profile" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         gr AS (SELECT doc_id, 2 AS n,
                  unnest(CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)),
                           i -> toks[i]||' '||toks[i+1])
                    ELSE [] END) AS g
                FROM t
                UNION ALL
                SELECT doc_id, 3 AS n,
                  unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                           i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])
                    ELSE [] END) AS g
                FROM t),
         c AS (SELECT doc_id, n, g, count(*) AS c FROM gr GROUP BY 1, 2, 3),
         pn AS (SELECT doc_id, n, sum(c) AS total,
                  sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup,
                  max(c) AS top
                FROM c GROUP BY 1, 2),
         pd AS (SELECT doc_id,
                  CAST(sum(CASE WHEN n = 2 THEN total ELSE 0 END)
                       AS BIGINT) AS n2_total,
                  round(sum(CASE WHEN n = 2 THEN dup ELSE 0 END) /
                    nullif(CAST(sum(CASE WHEN n = 2 THEN total ELSE 0 END)
                      AS DOUBLE), 0.0), 4) AS dup2_frac,
                  round(sum(CASE WHEN n = 2 THEN top ELSE 0 END) /
                    nullif(CAST(sum(CASE WHEN n = 2 THEN total ELSE 0 END)
                      AS DOUBLE), 0.0), 4) AS top2_share,
                  round(sum(CASE WHEN n = 3 THEN dup ELSE 0 END) /
                    nullif(CAST(sum(CASE WHEN n = 3 THEN total ELSE 0 END)
                      AS DOUBLE), 0.0), 4) AS dup3_frac
                FROM pn GROUP BY 1)
         SELECT doc_id, n2_total, dup2_frac, top2_share, dup3_frac,
                dup3_frac <= 0.8 AS keep
         FROM pd""",
    "q296_tokenizer_fertility" ->
      """WITH w AS (SELECT source, length(replace(text, ' ', '')) AS nc,
                regexp_replace(text, '([^ ])', '{\1}', 'g') AS wr,
                len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS nw
              FROM documents),
         e AS (SELECT source, nc, nw,
                 replace(replace(replace(wr,
                   '{t}{h}', '{th}'),
                   '{th}{e}', '{the}'),
                   '{e}{r}', '{er}') AS enc
               FROM w),
         p AS (SELECT source, nc, nw,
                 length(enc) - length(replace(enc, '{', '')) AS np
               FROM e)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                CAST(sum(np) AS BIGINT) AS n_pieces,
                CAST(sum(nw) AS BIGINT) AS n_words,
                round(sum(nc) / nullif(CAST(sum(np) AS DOUBLE), 0.0), 4)
                  AS chars_per_piece,
                round(sum(np) / nullif(CAST(sum(nw) AS DOUBLE), 0.0), 4)
                  AS fertility
         FROM p GROUP BY 1""",
    "q218_bpe_encode" ->
      """WITH w AS (SELECT doc_id, length(replace(text, ' ', '')) AS n_chars,
                regexp_replace(text, '([^ ])', '{\1}', 'g') AS wr
              FROM documents),
         e AS (SELECT doc_id, n_chars,
                 replace(replace(replace(wr,
                   '{t}{h}', '{th}'),
                   '{th}{e}', '{the}'),
                   '{e}{r}', '{er}') AS enc
               FROM w)
         SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                CAST(length(enc) - length(replace(enc, '{', ''))
                  AS BIGINT) AS n_pieces,
                CAST(n_chars - (length(enc) - length(replace(enc, '{', '')))
                  AS BIGINT) AS n_merged
         FROM e""",
    "q225_bpe_train" ->
      """WITH w0 AS (
           SELECT regexp_replace(tok, '(.)', '{\1}', 'g') AS enc,
                  CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
           WHERE length(tok) >= 2 GROUP BY 1),
         p1 AS (
           SELECT p.a AS a, p.b AS b, sum(n) AS cnt FROM (
             SELECT n, unnest(list_transform(range(1, len(syms)),
                 i -> struct_pack(a := syms[i], b := syms[i+1]))) AS p
             FROM (SELECT string_split(trim(enc, '{}'), '}{') AS syms, n FROM w0)
             WHERE len(syms) >= 2)
           GROUP BY 1, 2),
         b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
         w1 AS (SELECT replace(enc, '{'||b1.a||'}{'||b1.b||'}', '{'||b1.a||b1.b||'}') AS enc, n
                FROM w0, b1),
         p2 AS (
           SELECT p.a AS a, p.b AS b, sum(n) AS cnt FROM (
             SELECT n, unnest(list_transform(range(1, len(syms)),
                 i -> struct_pack(a := syms[i], b := syms[i+1]))) AS p
             FROM (SELECT string_split(trim(enc, '{}'), '}{') AS syms, n FROM w1)
             WHERE len(syms) >= 2)
           GROUP BY 1, 2),
         b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
         w2 AS (SELECT replace(enc, '{'||b2.a||'}{'||b2.b||'}', '{'||b2.a||b2.b||'}') AS enc, n
                FROM w1, b2),
         p3 AS (
           SELECT p.a AS a, p.b AS b, sum(n) AS cnt FROM (
             SELECT n, unnest(list_transform(range(1, len(syms)),
                 i -> struct_pack(a := syms[i], b := syms[i+1]))) AS p
             FROM (SELECT string_split(trim(enc, '{}'), '}{') AS syms, n FROM w2)
             WHERE len(syms) >= 2)
           GROUP BY 1, 2),
         b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
         SELECT CAST(1 AS INTEGER) AS round, a AS lhs, b AS rhs, a||b AS merged,
                CAST(cnt AS BIGINT) AS pair_count FROM b1
         UNION ALL
         SELECT CAST(2 AS INTEGER), a, b, a||b, CAST(cnt AS BIGINT) FROM b2
         UNION ALL
         SELECT CAST(3 AS INTEGER), a, b, a||b, CAST(cnt AS BIGINT) FROM b3""",
    "q217_html_extract" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) // 2 AS half
              FROM documents),
         h AS (SELECT doc_id,
                 '<html><head><title>doc '||doc_id||
                 '</title><style>p{color:red}</style>'||
                 '<script>var x = "1 &lt; 2";</script></head>'||
                 '<body><h1>Doc '||doc_id||'</h1><p>'||
                 array_to_string(toks[1:half], ' ')||
                 '</p><p class="b">'||
                 array_to_string(toks[half+1:len(toks)], ' ')||
                 ' &amp; more</p></body></html>' AS html
               FROM t),
         c AS (SELECT doc_id, trim(
                 regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(regexp_replace(html,
                   '<script[^>]*>[^<]*</script>', ' ', 'g'),
                   '<style[^>]*>[^<]*</style>', ' ', 'g'),
                   '<[^>]+>', ' ', 'g'),
                   '&amp;', '&', 'g'),
                   '&lt;', '<', 'g'),
                   '&gt;', '>', 'g'),
                   '&quot;', '"', 'g'),
                   '&#39;', '''', 'g'),
                   '\s+', ' ', 'g')) AS clean
               FROM h)
         SELECT doc_id, md5(clean) AS text_md5,
                CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_toks
         FROM c""",
    "q216_vocab_delta" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
                CASE WHEN doc_id % 5 = 0
                  THEN list_append(string_split(text, ' '), 'graftedit')
                  ELSE string_split(text, ' ') END AS new_toks
              FROM documents),
         oldv AS (SELECT t.term, CAST(count(*) AS BIGINT) AS cf
                  FROM (SELECT unnest(toks) AS term FROM d
                        WHERE doc_id % 10 <> 7) t
                  GROUP BY 1),
         newv AS (SELECT t.term, CAST(count(*) AS BIGINT) AS cf
                  FROM (SELECT unnest(new_toks) AS term FROM d
                        WHERE doc_id % 10 <> 3) t
                  GROUP BY 1)
         SELECT coalesce(o.term, n.term) AS term,
                coalesce(o.cf, 0) AS old_cf,
                coalesce(n.cf, 0) - coalesce(o.cf, 0) AS delta,
                coalesce(n.cf, 0) AS new_cf
         FROM oldv o FULL OUTER JOIN newv n ON o.term = n.term
         WHERE coalesce(n.cf, 0) <> coalesce(o.cf, 0)""",
    "q212_deletion_propagation" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, m) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m),
         canon AS (SELECT node AS doc_id, min(m) AS old_cluster
                   FROM reach GROUP BY node),
         sym2 AS (SELECT src, dst FROM sym
                  WHERE src % 17 <> 0 AND dst % 17 <> 0),
         reach2(node, m) AS (
           SELECT doc_id, doc_id FROM documents WHERE doc_id % 17 <> 0
           UNION
           SELECT r.node, s.dst FROM reach2 r JOIN sym2 s ON s.src = r.m),
         canon2 AS (SELECT node AS doc_id, min(m) AS new_comp
                    FROM reach2 GROUP BY node),
         base AS (SELECT doc_id, old_cluster, doc_id % 17 = 0 AS deleted
                  FROM canon),
         stats AS (SELECT old_cluster,
                     CAST(count(*) AS BIGINT) AS n_before,
                     CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_deleted
                   FROM base GROUP BY 1
                   HAVING sum(CASE WHEN deleted THEN 1 ELSE 0 END) > 0),
         aft AS (SELECT b.old_cluster,
                   CAST(count(DISTINCT c2.new_comp) AS BIGINT)
                     AS n_components_after,
                   min(b.doc_id) AS new_rep
                 FROM base b JOIN canon2 c2 ON c2.doc_id = b.doc_id
                 WHERE NOT b.deleted GROUP BY 1)
         SELECT s.old_cluster, s.n_before, s.n_deleted,
                coalesce(a.n_components_after, 0) AS n_components_after,
                a.new_rep
         FROM stats s LEFT JOIN aft a USING (old_cluster)""",
    "q211_neardup_decontaminate" ->
      s"""WITH $minhashCtesSql,
         ev AS (SELECT band, bkey, doc_id AS eval_id FROM bands
                WHERE doc_id < 20 AND bkey IS NOT NULL),
         tr AS (SELECT band, bkey, doc_id FROM bands
                WHERE doc_id >= 20 AND bkey IS NOT NULL),
         cand AS (SELECT DISTINCT tr.doc_id, ev.eval_id
                  FROM tr JOIN ev USING (band, bkey)),
         ssets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh),
         ver AS (SELECT c.doc_id, c.eval_id,
                   len(list_intersect(a.sset, b.sset)) AS inter,
                   len(a.sset) + len(b.sset)
                     - len(list_intersect(a.sset, b.sset)) AS uni
                 FROM cand c JOIN ssets a ON a.doc_id = c.doc_id
                      JOIN ssets b ON b.doc_id = c.eval_id)
         SELECT doc_id, eval_id, round(inter * 1.0 / uni, 6) AS jac FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY round(inter * 1.0 / uni, 6) DESC, eval_id) AS rn
           FROM ver WHERE 2 * inter >= uni) WHERE rn = 1""",
    "q209_logreg_train" -> {
      // one GD step: residuals from w{t-1}, three rounded avg-gradients,
      // rounded weight update — the engine trajectory replayed verbatim
      def step(t: Int): String = {
        val prev = s"lw${t - 1}"
        s"""lr$t AS (SELECT y, x1, x2,
                round(1/(1 + exp(-(w0 + w1*x1 + w2*x2))) - y, 8) AS r
              FROM lf, $prev),
           lg$t AS (SELECT round(avg(r), 6) AS g0,
                      round(avg(r*x1), 6) AS g1,
                      round(avg(r*x2), 6) AS g2 FROM lr$t),
           lw$t AS (SELECT round(w0 - 0.5*g0, 6) AS w0,
                      round(w1 - 0.5*g1, 6) AS w1,
                      round(w2 - 0.5*g2, 6) AS w2
                    FROM $prev, lg$t)"""
      }
      s"""WITH lf AS (SELECT
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             round(len(string_split(text, ' ')) / 100.0, 6) AS x1,
             round(len(list_distinct(string_split(text, ' '))) /
               CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS x2
           FROM documents),
         lw0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
         ${step(1)},
         ${step(2)},
         ${step(3)}
         SELECT w0, w1, w2,
           CAST(sum(CASE WHEN ((w0 + w1*x1 + w2*x2) >= 0) = (y = 1.0)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(count(*) AS BIGINT) AS n
         FROM lf, lw3 GROUP BY 1, 2, 3"""
    },
    "q208_context_windows" ->
      """WITH d AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
              FROM documents WHERE len(string_split(text, ' ')) > 0),
         b AS (SELECT doc_id, n_toks, doc_id // 100 AS bucket FROM d),
         boff AS (SELECT bucket, sum(n_toks) AS btoks FROM b GROUP BY 1),
         boff2 AS (SELECT bucket,
                     coalesce(sum(btoks) OVER (ORDER BY bucket) - btoks, 0)
                       AS off FROM boff),
         c AS (SELECT doc_id, n_toks,
                 off + sum(n_toks) OVER (PARTITION BY b.bucket
                   ORDER BY doc_id) AS cum
               FROM b JOIN boff2 USING (bucket)),
         spans AS (SELECT doc_id, cum - n_toks AS strt, cum FROM c),
         wx AS (SELECT doc_id, strt, cum,
                  unnest(range(CAST(strt // 128 AS BIGINT),
                               CAST((cum - 1) // 128 + 1 AS BIGINT))) AS w
                FROM spans)
         SELECT w AS window_id, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(least(cum, (w + 1) * 128) -
                         greatest(strt, w * 128)) AS BIGINT) AS n_toks,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM wx GROUP BY 1""",
    "q207_chunk_dedup_rewrite" ->
      s"""WITH $cdcCtesSql,
         hk AS (SELECT doc_id, chunk_no, chunk,
                  row_number() OVER (PARTITION BY md5(chunk)
                    ORDER BY doc_id, chunk_no) AS rn
                FROM chunks)
         SELECT doc_id,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(coalesce(sum(CASE WHEN rn = 1
             THEN len(string_split(chunk, ' ')) END), 0) AS BIGINT)
             AS n_toks_kept,
           md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_no)
             FILTER (WHERE rn = 1), '')) AS new_md5
         FROM hk GROUP BY 1""",
    "q195_cdc_chunks" ->
      s"""WITH $cdcCtesSql
         SELECT md5(chunk) AS chunk_hash,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_occ,
                min(doc_id) AS rep_doc
         FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""",
    "q200_containment_join" ->
      s"""WITH $cdcCtesSql,
         ch AS (SELECT DISTINCT doc_id, md5(chunk) AS chash FROM chunks),
         cand AS (SELECT chash FROM ch GROUP BY 1
                  HAVING count(*) BETWEEN 2 AND 50),
         side AS (SELECT ch.* FROM ch JOIN cand USING (chash)),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM side a JOIN side b
                     ON a.chash = b.chash AND a.doc_id < b.doc_id),
         sd AS (SELECT doc_id, list_distinct($shinglesSql) AS sdist FROM ct),
         j AS (SELECT p.doc_a, p.doc_b,
                 len(list_intersect(a.sdist, b.sdist)) AS inter,
                 least(len(a.sdist), len(b.sdist)) AS mn
               FROM pairs p
               JOIN sd a ON a.doc_id = p.doc_a
               JOIN sd b ON b.doc_id = p.doc_b)
         SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
                round(inter / CAST(mn AS DOUBLE), 4) AS containment
         FROM j WHERE mn > 0 AND inter * 2 >= mn""",
    "q194_source_kl_drift" ->
      """WITH t AS (SELECT source, unnest(string_split(text,' ')) AS term
                    FROM documents),
         bk AS (SELECT source,
                  CAST(('0x'||substr(md5(term),1,4)) AS BIGINT) % 256 AS bucket
                FROM t),
         sc AS (SELECT source, bucket, count(*) AS c FROM bk GROUP BY 1, 2),
         ct AS (SELECT bucket, count(*) AS ct FROM bk GROUP BY 1),
         grid AS (SELECT s.source, b.bucket
                  FROM (SELECT DISTINCT source FROM documents) s,
                       (SELECT unnest(range(0, 256)) AS bucket) b),
         ns AS (SELECT source, sum(c) AS ns FROM sc GROUP BY 1),
         nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt FROM ct),
         terms AS (SELECT g.source,
                     (coalesce(sc.c, 0) + 1) / (ns.ns + 256) AS p,
                     (coalesce(ct.ct, 0) + 1) / (nt.nt + 256) AS q,
                     ns.ns
                   FROM grid g
                   LEFT JOIN sc ON sc.source = g.source AND sc.bucket = g.bucket
                   LEFT JOIN ct ON ct.bucket = g.bucket
                   JOIN ns ON ns.source = g.source
                   CROSS JOIN nt)
         SELECT source, CAST(max(ns) AS BIGINT) AS n_terms,
                round(sum(round(p * ln(p / q), 8)), 4) AS kl
         FROM terms GROUP BY 1""",
    "q192_dsir_resample" ->
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS toks
                    FROM documents),
         ng AS (SELECT doc_id, source, unnest(list_concat(toks,
                  list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1]))) AS ng
                FROM t),
         bk AS (SELECT doc_id, source,
                  CAST(('0x'||substr(md5(ng),1,4)) AS BIGINT) % 512 AS bucket
                FROM ng),
         raw AS (SELECT bucket, count(*) AS rk FROM bk GROUP BY 1),
         tgt AS (SELECT bucket, count(*) AS tk FROM bk
                 WHERE source = 'src0' GROUP BY 1),
         tots AS (SELECT (SELECT CAST(sum(rk) AS DOUBLE) FROM raw) AS rtot,
                         (SELECT CAST(sum(tk) AS DOUBLE) FROM tgt) AS ttot),
         lr AS (SELECT r.bucket,
                  round(ln((coalesce(t.tk, 0) + 1) / (s.ttot + 512)) -
                        ln((r.rk + 1) / (s.rtot + 512)), 6) AS lr
                FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tots s),
         prof AS (SELECT doc_id, bucket, count(*) AS c FROM bk GROUP BY 1, 2)
         SELECT p.doc_id, round(sum(p.c * l.lr), 4) AS dsir_w
         FROM prof p JOIN lr l USING (bucket)
         GROUP BY 1 ORDER BY dsir_w DESC, doc_id LIMIT 50""",
    "q180_source_overlap" ->
      """WITH k AS (SELECT DISTINCT
             md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS dup_key,
             source FROM documents),
         m AS (SELECT dup_key FROM k GROUP BY 1 HAVING count(*) > 1),
         p AS (SELECT k.* FROM k JOIN m USING (dup_key))
         SELECT a.source AS src_a, b.source AS src_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM p a JOIN p b
           ON a.dup_key = b.dup_key AND a.source < b.source
         GROUP BY 1, 2""",
    "q179_difficulty_bins" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
         cf AS (SELECT term, count(*) AS cf FROM terms GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM terms),
         nll AS (SELECT doc_id, -ln(cf.cf / tot.total) AS nll
                 FROM terms JOIN cf USING (term) CROSS JOIN tot),
         sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                       round(avg(nll), 4) AS surprisal
                FROM nll GROUP BY 1),
         n1 AS (SELECT count(*) AS n FROM sc),
         cum AS (SELECT surprisal, sum(c) OVER (ORDER BY surprisal) AS cum
                 FROM (SELECT surprisal, count(*) AS c FROM sc GROUP BY 1)),
         ks AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS k),
         bl AS (SELECT k, min(surprisal) AS b FROM ks, cum, n1
                WHERE cum >= (n1.n * k + 9) // 10 GROUP BY k),
         bs AS (SELECT list(b ORDER BY k) AS bs FROM bl),
         binned AS (SELECT s.*,
             CAST(len(list_filter(b.bs, x -> s.surprisal > x)) AS BIGINT) AS bin
           FROM sc s CROSS JOIN bs b)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
                round(min(surprisal), 4) AS lo, round(max(surprisal), 4) AS hi,
                round(avg(n_toks), 2) AS avg_toks
         FROM binned GROUP BY 1""",
    "q178_mixture_waterfill" ->
      """WITH t AS (SELECT source, string_split(text,' ') AS toks FROM documents),
         caps AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS cap,
             CAST(CASE WHEN source IN ('src0','src1','src2','src3') THEN 3
                  WHEN source IN ('src4','src5','src6','src7') THEN 2
                  ELSE 1 END AS BIGINT) AS w
           FROM t GROUP BY source),
         tot AS (SELECT sum(cap) AS totC, sum(w) AS totW FROM caps),
         base AS (SELECT c.*, t.totC, t.totW, (t.totC * 3) // 5 AS budget
                  FROM caps c CROSS JOIN tot t),
         cum AS (SELECT *,
             sum(cap) OVER (ORDER BY CAST(cap AS DOUBLE)/w, source) - cap AS cumC,
             sum(w) OVER (ORDER BY CAST(cap AS DOUBLE)/w, source) - w AS cumW,
             row_number() OVER (ORDER BY CAST(cap AS DOUBLE)/w, source) AS pos
           FROM base),
         c2 AS (SELECT *,
             cap * (totW - cumW) <= w * (budget - cumC) AS cond FROM cum),
         ff AS (SELECT min(CASE WHEN NOT cond THEN pos END) AS ff FROM c2),
         fl AS (SELECT c2.*, (f.ff IS NULL OR c2.pos < f.ff) AS saturated
                FROM c2 CROSS JOIN ff f),
         pool AS (SELECT sum(CASE WHEN saturated THEN cap ELSE 0 END) AS satC,
                         sum(CASE WHEN saturated THEN w ELSE 0 END) AS satW
                  FROM fl)
         SELECT source, cap, w, saturated,
           CASE WHEN saturated THEN CAST(cap AS DOUBLE)
                ELSE round(w * (budget - satC) * 1.0 / (totW - satW), 4)
           END AS alloc
         FROM fl CROSS JOIN pool""",
    "q175_bm25" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t),
         tok AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                        unnest(toks) AS term FROM t),
         qt AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE term IN ('join','hash','scan')
                GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                 FROM qt GROUP BY 1),
         sc AS (SELECT q.doc_id,
                  ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
                    q.tf * 2.2 /
                    (q.tf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)) AS contrib
                FROM qt q JOIN dft d USING(term) CROSS JOIN st s)
         SELECT doc_id, round(sum(contrib), 4) AS bm25 FROM sc GROUP BY 1
         ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "q312_prf_expansion" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t),
         tok AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                        unnest(toks) AS term FROM t),
         qt AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE term IN ('join','hash','scan')
                GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                 FROM qt GROUP BY 1),
         sc AS (SELECT q.doc_id,
                  ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
                    q.tf * 2.2 /
                    (q.tf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)) AS contrib
                FROM qt q JOIN dft d USING(term) CROSS JOIN st s),
         fb AS (SELECT doc_id FROM (
                  SELECT doc_id, round(sum(contrib), 4) AS bm25
                  FROM sc GROUP BY 1
                  ORDER BY bm25 DESC, doc_id LIMIT 3)),
         cand AS (SELECT k.doc_id, k.dl, k.term,
                    CAST(count(*) AS DOUBLE) AS tf
                  FROM tok k JOIN fb ON fb.doc_id = k.doc_id
                  WHERE k.term NOT IN ('join','hash','scan')
                  GROUP BY 1, 2, 3),
         cm AS (SELECT term,
                  CAST(sum(CAST(round(1e6 * (tf / dl)) AS BIGINT))
                       AS BIGINT) AS wm,
                  CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
                FROM cand GROUP BY 1)
         SELECT term, CAST(wm AS DOUBLE) / 1e6 AS w, nd FROM cm
         ORDER BY wm DESC, term LIMIT 8""",
    "q318_template_mining" ->
      """WITH t AS (SELECT doc_id, source,
              md5(array_to_string(list_slice(string_split(
                    regexp_replace(regexp_replace(lower(text),
                      '[0-9]+', '0', 'g'), '\s+', ' ', 'g'), ' '),
                    1, 8), ' ')) AS template_key
            FROM documents)
         SELECT template_key, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(min(doc_id) AS BIGINT) AS example_doc
         FROM t GROUP BY 1 HAVING count(*) >= 2""",
    "q333_global_vs_local_dedup" ->
      """WITH d AS (SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              md5(array_to_string(list_slice(string_split(text, ' '),
                1, 8), ' ')) AS dup_key
            FROM documents),
         gk AS (SELECT dup_key, min(doc_id) AS gk FROM d GROUP BY 1),
         lk AS (SELECT dup_key, source, min(doc_id) AS lk
                FROM d GROUP BY 1, 2),
         j AS (SELECT d.source, d.n_tok,
                 CASE WHEN d.doc_id = gk.gk THEN d.n_tok ELSE 0 END AS gt,
                 CASE WHEN d.doc_id = lk.lk THEN d.n_tok ELSE 0 END AS lt
               FROM d JOIN gk USING (dup_key)
                      JOIN lk ON lk.dup_key = d.dup_key
                             AND lk.source = d.source)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(sum(gt) AS BIGINT) AS global_kept_tokens,
                CAST(sum(lt) AS BIGINT) AS local_kept_tokens,
                round(CAST(sum(gt) AS DOUBLE)
                      / CAST(sum(n_tok) AS DOUBLE), 6) AS global_yield,
                round(CAST(sum(lt) AS DOUBLE)
                      / CAST(sum(n_tok) AS DOUBLE), 6) AS local_yield,
                CAST(sum(lt) - sum(gt) AS BIGINT)
                  AS cross_shard_dup_tokens
         FROM j GROUP BY 1""",
    "q331_novelty_curve" ->
      """WITH d AS (SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              md5(array_to_string(list_slice(string_split(text, ' '),
                1, 8), ' ')) AS dup_key
            FROM documents),
         fs AS (SELECT dup_key, min(source) AS fs FROM d GROUP BY 1),
         firstdocs AS (SELECT d.dup_key, min(d.doc_id) AS rep
                       FROM d JOIN fs USING (dup_key)
                       WHERE d.source = fs.fs GROUP BY 1),
         novel AS (SELECT d2.source AS src,
                     CAST(count(*) AS BIGINT) AS n_new_groups,
                     CAST(sum(d2.n_tok) AS BIGINT) AS novel_tokens
                   FROM firstdocs f JOIN d d2 ON d2.doc_id = f.rep
                   GROUP BY 1),
         totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(n_tok) AS BIGINT) AS n_tokens
                    FROM d GROUP BY 1),
         j AS (SELECT t.source, t.n_docs, t.n_tokens,
                 coalesce(n.n_new_groups, 0) AS n_new_groups,
                 coalesce(n.novel_tokens, 0) AS novel_tokens
               FROM totals t LEFT JOIN novel n ON n.src = t.source)
         SELECT source, n_docs, n_tokens,
                CAST(n_new_groups AS BIGINT) AS n_new_groups,
                CAST(novel_tokens AS BIGINT) AS novel_tokens,
                round(CAST(novel_tokens AS DOUBLE)
                      / CAST(n_tokens AS DOUBLE), 6) AS novelty_ratio,
                CAST(sum(novel_tokens) OVER (ORDER BY source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_novel_tokens
         FROM j""",
    "q330_soft_dedup" ->
      """WITH d AS (SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              md5(array_to_string(list_slice(string_split(text, ' '),
                1, 8), ' ')) AS dup_key
            FROM documents),
         grp AS (SELECT dup_key, CAST(count(*) AS BIGINT) AS n_copies
                 FROM d GROUP BY 1),
         sm AS (SELECT source, n_tok,
                  CAST(round(CAST(n_tok AS DOUBLE) * 1e6
                        / CAST(n_copies AS DOUBLE)) AS BIGINT) AS soft_micro
                FROM d JOIN grp USING (dup_key))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                round(CAST(sum(soft_micro) AS DOUBLE) / 1e6, 3)
                  AS soft_tokens,
                round(CAST(sum(soft_micro) AS DOUBLE)
                      / (CAST(sum(n_tok) AS DOUBLE) * 1e6), 6) AS soft_ratio
         FROM sm GROUP BY 1""",
    "q329_epoch_plan" ->
      """WITH d AS (SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              md5(array_to_string(list_slice(string_split(text, ' '),
                1, 8), ' ')) AS dup_key,
              string_split(text, ' ') AS toks
            FROM documents),
         keep AS (SELECT dup_key, min(doc_id) AS keep_id
                  FROM d GROUP BY 1),
         y AS (SELECT source,
                 CAST(sum(CASE WHEN doc_id = keep_id THEN n_tok
                          ELSE 0 END) AS BIGINT) AS kept_tokens
               FROM d JOIN keep USING (dup_key) GROUP BY source),
         q4 AS (SELECT source,
                  CAST(round(round(least(1.0,
                      CAST(len(toks) AS DOUBLE) / 100.0)
                    * (1.0 - CAST(len(list_filter(toks,
                        x -> x IN ('the','a','of','and'))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE)), 4) * 1e4) AS BIGINT)
                    AS w4
                FROM d),
         dom AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   round(1.0 - CAST(sum(w4) AS DOUBLE)
                         / (CAST(count(*) AS DOUBLE) * 1e4), 6) AS loss
                 FROM q4 GROUP BY 1),
         em AS (SELECT *, CAST(round(exp(loss) * 1e6) AS BIGINT) AS em
                FROM dom),
         z AS (SELECT CAST(sum(em) AS BIGINT) AS z FROM em),
         tot AS (SELECT CAST(sum(kept_tokens) AS BIGINT) * 4 AS budget
                 FROM y)
         SELECT em.source, y.kept_tokens,
                round(CAST(em.em AS DOUBLE) / CAST(z.z AS DOUBLE), 6)
                  AS weight,
                CASE WHEN y.kept_tokens = 0 THEN NULL
                     ELSE CAST(ceil(CAST(em.em AS DOUBLE)
                         / CAST(z.z AS DOUBLE) * CAST(budget AS DOUBLE)
                         / CAST(y.kept_tokens AS DOUBLE)) AS BIGINT)
                END AS epochs,
                CASE WHEN y.kept_tokens = 0 THEN NULL
                     ELSE CAST(ceil(CAST(em.em AS DOUBLE)
                         / CAST(z.z AS DOUBLE) * CAST(budget AS DOUBLE)
                         / CAST(y.kept_tokens AS DOUBLE)) AS BIGINT) > 4
                END AS over_epoch_cap
         FROM em, z, tot JOIN y ON y.source = em.source""",
    "q326_canary_scan" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
              FROM documents),
         canaries AS (SELECT doc_id AS eval_id,
             array_to_string(list_slice(toks, 1, 4), ' ') AS g4
           FROM t WHERE doc_id % 31 = 0 AND len(toks) >= 4),
         g AS (SELECT doc_id, source, unnest(list_transform(
                 range(1, greatest(len(toks) - 2, 1)),
                 i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '
                      ||toks[i+3])) AS g4
               FROM t WHERE len(toks) >= 4),
         hits AS (SELECT DISTINCT g.source, g.doc_id, c.eval_id
                  FROM g JOIN canaries c ON g.g4 = c.g4
                  WHERE g.doc_id <> c.eval_id)
         SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_hit_docs,
                CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(min(doc_id) AS BIGINT) AS example_doc,
                CAST(min(eval_id) AS BIGINT) AS example_canary
         FROM hits GROUP BY 1""",
    "q322_ngram_diversity" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks
              FROM documents),
         g AS (SELECT source, unnest(list_transform(
                 range(1, greatest(len(toks), 1)),
                 i -> toks[i] || ' ' || toks[i+1])) AS g
               FROM t),
         gc AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c
                FROM g GROUP BY 1, 2),
         tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n2,
                   CAST(count(*) AS BIGINT) AS d2
                 FROM gc GROUP BY 1),
         tm AS (SELECT gc.source,
                  CAST(sum(CAST(round((ln(CAST(n2 AS DOUBLE))
                          - ln(CAST(c AS DOUBLE)))
                        * CAST(c AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
                    AS tm
                FROM gc JOIN tot USING (source) GROUP BY 1)
         SELECT source, n2 AS n_bigrams, d2 AS d_bigrams,
                round(CAST(d2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
                  AS distinct_ratio,
                round(CAST(tm AS DOUBLE)
                      / (CAST(n2 AS DOUBLE) * 1e6), 6) AS entropy_nats
         FROM tot JOIN tm USING (source)""",
    "q323_effective_yield" ->
      """WITH d AS (SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              md5(array_to_string(list_slice(string_split(text, ' '),
                1, 8), ' ')) AS dup_key
            FROM documents),
         keep AS (SELECT dup_key, min(doc_id) AS keep_id
                  FROM d GROUP BY 1),
         k AS (SELECT d.source, d.n_tok,
                 CASE WHEN d.doc_id = keep.keep_id THEN 1 ELSE 0 END AS kept
               FROM d JOIN keep USING (dup_key))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(sum(kept) AS BIGINT) AS kept_docs,
                CAST(sum(kept * n_tok) AS BIGINT) AS kept_tokens,
                round(CAST(sum(kept * n_tok) AS DOUBLE)
                      / CAST(sum(n_tok) AS DOUBLE), 6) AS token_yield
         FROM k GROUP BY 1""",
    "q324_doremi_step" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks
              FROM documents),
         q AS (SELECT source,
                 CAST(round(round(least(1.0,
                     CAST(len(toks) AS DOUBLE) / 100.0)
                   * (1.0 - CAST(len(list_filter(toks,
                       x -> x IN ('the','a','of','and'))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE)), 4) * 1e4) AS BIGINT)
                   AS w4
               FROM t),
         dom AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   round(1.0 - CAST(sum(w4) AS DOUBLE)
                         / (CAST(count(*) AS DOUBLE) * 1e4), 6) AS loss
                 FROM q GROUP BY 1),
         em AS (SELECT *, CAST(round(exp(loss) * 1e6) AS BIGINT) AS em
                FROM dom),
         z AS (SELECT CAST(sum(em) AS BIGINT) AS z FROM em)
         SELECT source, n_docs, loss,
                round(CAST(em AS DOUBLE) / CAST(z AS DOUBLE), 6) AS weight
         FROM em, z""",
    "q325_vocab_coverage" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
              FROM documents),
         tc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
                FROM t WHERE token <> '' GROUP BY 1, 2),
         tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS nt,
                   CAST(count(*) AS BIGINT) AS vocab
                 FROM tc GROUP BY 1),
         r AS (SELECT source, token, c,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY c DESC, token) AS BIGINT) AS r,
                 sum(c) OVER (PARTITION BY source
                   ORDER BY c DESC, token) AS cum
               FROM tc)
         SELECT r.source, max(vocab) AS vocab_size, max(nt) AS n_tokens,
                CAST(min(CASE WHEN cum * 10 >= nt * 9 THEN r END)
                     AS BIGINT) AS k90,
                CAST(min(CASE WHEN cum * 100 >= nt * 99 THEN r END)
                     AS BIGINT) AS k99,
                max(CASE WHEN r = 1 THEN token END) AS top_token
         FROM r JOIN tot USING (source) GROUP BY 1""",
    "q319_sequence_packing" ->
      """WITH s AS (SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents),
         c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source
                 ORDER BY doc_id) AS cum FROM s),
         b AS (SELECT source, (cum - n_tok) // 2048 AS seq, n_tok, doc_id,
                 CASE WHEN (cum - 1) // 2048 > (cum - n_tok) // 2048
                      THEN 1 ELSE 0 END AS split
               FROM c)
         SELECT source, CAST(seq AS BIGINT) AS seq,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(sum(split) AS BIGINT) AS n_split,
                CAST(min(doc_id) AS BIGINT) AS first_doc
         FROM b GROUP BY 1, 2""",
    "q315_fleiss_kappa" ->
      """WITH d AS (SELECT doc_id // 4 AS item,
                CASE WHEN n_chars < 150 THEN 0
                     WHEN n_chars < 300 THEN 1 ELSE 2 END AS cat
              FROM documents),
         full_items AS (SELECT item FROM d GROUP BY 1
                        HAVING count(*) = 4),
         nij AS (SELECT d.item, d.cat, CAST(count(*) AS BIGINT) AS nij
                 FROM d JOIN full_items USING (item)
                 GROUP BY 1, 2),
         st AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items,
                  CAST(sum(nij * nij) AS BIGINT) AS sum_sq,
                  CAST(sum(CASE WHEN cat = 0 THEN nij ELSE 0 END)
                       AS BIGINT) AS t0,
                  CAST(sum(CASE WHEN cat = 1 THEN nij ELSE 0 END)
                       AS BIGINT) AS t1,
                  CAST(sum(CASE WHEN cat = 2 THEN nij ELSE 0 END)
                       AS BIGINT) AS t2
                FROM nij),
         k AS (SELECT *,
                 (CAST(sum_sq AS DOUBLE) - CAST(n_items AS DOUBLE) * 4.0)
                   / (CAST(n_items AS DOUBLE) * 4.0 * 3.0) AS pbar,
                 (CAST(t0 AS DOUBLE) * CAST(t0 AS DOUBLE)
                  + CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
                  + CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE))
                   / ((CAST(n_items AS DOUBLE) * 4.0)
                      * (CAST(n_items AS DOUBLE) * 4.0)) AS pe
               FROM st)
         SELECT n_items, sum_sq, t0, t1, t2,
                round(pbar, 6) AS pbar, round(pe, 6) AS pe,
                CASE WHEN 1.0 - pe = 0 THEN NULL
                     ELSE round((pbar - pe) / (1.0 - pe), 6) END AS kappa
         FROM k""",
    "q313_neyman_allocation" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(toks, x -> x IN ('the','a','of','and')))
                      AS BIGINT) AS n_stop
               FROM t),
         q AS (SELECT doc_id,
                 round(least(1.0, n_tokens/100.0) * (1.0 - n_stop/n_tokens),
                       4) AS quality
               FROM c),
         dq AS (SELECT d.source, CAST(round(q.quality * 1e4) AS BIGINT) AS q4
                FROM q JOIN documents d USING (doc_id)),
         st AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(q4) AS BIGINT) AS s1,
                  CAST(sum(q4 * q4) AS BIGINT) AS s2
                FROM dq GROUP BY 1),
         sh AS (SELECT source, n,
                  sqrt(CAST(CAST(n AS HUGEINT) * s2
                            - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) /
                       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sh
                FROM st),
         w AS (SELECT source, n, sh,
                 CAST(round(CAST(n AS DOUBLE) * sh) AS BIGINT) AS wq
               FROM sh),
         tot AS (SELECT CAST(greatest(sum(wq), 1) AS BIGINT) AS W FROM w),
         qa AS (SELECT source, n, sh, wq,
                  100 * wq // W AS fl, (100 * wq) % W AS r
                FROM w CROSS JOIN tot),
         def AS (SELECT 100 - CAST(sum(fl) AS BIGINT) AS deficit FROM qa),
         rk AS (SELECT *, row_number() OVER (ORDER BY r DESC, source) AS rk
                FROM qa)
         SELECT source, n, round(sh, 4) AS sh,
                CAST(fl + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                     AS BIGINT) AS seats
         FROM rk CROSS JOIN def""",
    "q176_stratified_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 <
           CASE WHEN source IN ('src0','src1','src2','src3') THEN 50
                WHEN source IN ('src4','src5','src6','src7') THEN 20
                ELSE 5 END""",
    "q177_reservoir_per_source" ->
      """SELECT source, doc_id FROM (
           SELECT source, doc_id, row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
           FROM documents) WHERE rn <= 5""",
    "q143_candidate_verify" ->
      s"""WITH $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sd AS (SELECT doc_id, list_distinct(shingles) AS sdist FROM sh),
         j AS (SELECT p.doc_a, p.doc_b,
             round(len(list_intersect(a.sdist, b.sdist)) /
               (len(a.sdist) + len(b.sdist)
                 - len(list_intersect(a.sdist, b.sdist))), 4) AS jac
           FROM pairs p
           JOIN sd a ON a.doc_id = p.doc_a
           JOIN sd b ON b.doc_id = p.doc_b)
         SELECT doc_a, doc_b, jac FROM j WHERE jac >= 0.5""",
    "q144_corpus_funnel" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, m) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m),
         canon AS (SELECT node AS doc_id, min(m) AS canonical_id
                   FROM reach GROUP BY node),
         q AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
             CAST(len(list_intersect(toks,
               ['the','a','of','to','and'])) AS BIGINT) AS n_stop,
             CAST(list_max(list_transform(list_distinct(toks),
               w -> len(list_filter(toks, t2 -> t2 = w)))) AS BIGINT) AS max_count,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
           FROM t),
         keep AS (SELECT doc_id,
             (n_words >= 30 AND n_words <= 100000)
               AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
               AND n_stop >= 2 AND max_count * 5 <= n_words
               AND n_distinct * 10 >= n_words * 3 AS keep
           FROM q),
         keyed AS (SELECT doc_id,
             md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS dup_key
           FROM t),
         win AS (SELECT dup_key, min(doc_id) AS keep_id
                 FROM keyed GROUP BY dup_key)
         SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(sum(CASE WHEN d.doc_id = w.keep_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN d.doc_id = c.canonical_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_canonical,
           CAST(sum(CASE WHEN k.keep AND d.doc_id = w.keep_id
               AND d.doc_id = c.canonical_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_final
         FROM documents d
         JOIN keep k ON k.doc_id = d.doc_id
         JOIN keyed ky ON ky.doc_id = d.doc_id
         JOIN win w ON w.dup_key = ky.dup_key
         JOIN canon c ON c.doc_id = d.doc_id
         GROUP BY d.source""",
    "q154_longest_run" ->
      s"""WITH $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         pos AS (SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS p FROM t),
         m AS (SELECT pr.doc_a, pr.doc_b, a.p AS ap, a.p - b.p AS diag
               FROM pairs pr JOIN pos a ON a.doc_id = pr.doc_a
                             JOIN pos b ON b.doc_id = pr.doc_b
                                       AND b.tok = a.tok),
         isl AS (SELECT doc_a, doc_b, diag, ap,
                   ap - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                     ORDER BY ap) AS island
                 FROM m),
         runs AS (SELECT doc_a, doc_b, count(*) AS run FROM isl
                  GROUP BY doc_a, doc_b, diag, island),
         lr AS (SELECT doc_a, doc_b, max(run) AS longest_run
                FROM runs GROUP BY 1, 2),
         ln AS (SELECT doc_id, len(toks) AS n FROM t)
         SELECT p.doc_a, p.doc_b,
                CAST(coalesce(l.longest_run, 0) AS BIGINT) AS longest_run,
                round(coalesce(l.longest_run, 0)
                      / CAST(least(la.n, lb.n) AS DOUBLE), 4)
                  AS overlap_share
         FROM pairs p
           LEFT JOIN lr l ON l.doc_a = p.doc_a AND l.doc_b = p.doc_b
           JOIN ln la ON la.doc_id = p.doc_a
           JOIN ln lb ON lb.doc_id = p.doc_b""",
    "q156_bigram_surprisal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
                FROM t),
         p AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
         cbg AS (SELECT w1, w2, count(*) AS cbg FROM p GROUP BY 1, 2),
         cpre AS (SELECT w1, count(*) AS cpre FROM p GROUP BY 1),
         nll AS (SELECT p.doc_id, -ln(cbg.cbg / CAST(cpre.cpre AS DOUBLE)) AS nll
                 FROM p JOIN cbg USING (w1, w2) JOIN cpre USING (w1))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(avg(nll), 4) AS surprisal
         FROM nll GROUP BY 1""",
    "q247_nb_train" ->
      """WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM documents
                     WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                                AS BIGINT) % 10 < 7),
         d AS (SELECT toks,
                 round(least(1.0, len(toks) / 100.0) *
                   (1.0 - len(list_filter(toks, x -> x IN ('the','a','of','and')))
                          / CAST(len(toks) AS DOUBLE)), 4) >= 0.9 AS pos
               FROM d0),
         tok AS (SELECT pos, unnest(toks) AS token FROM d),
         c AS (SELECT token,
                 CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
               FROM tok WHERE token <> '' GROUP BY 1),
         tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn,
                        count(*) AS v FROM c)
         SELECT token, n_pos, n_neg,
           CAST(round((ln(n_pos + 1) - ln(tp + v)
                       - ln(n_neg + 1) + ln(tn + v)) * 962000) AS BIGINT)
             AS w_micro
         FROM c CROSS JOIN tot""",
    "q248_nb_score" ->
      s"""WITH $nbScoreCtesSql
         SELECT doc_id, hq, score_micro, pred_hq FROM scored""",
    "q286_nb_confusion" ->
      s"""WITH $nbScoreCtesSql,
         cm AS (SELECT
             CAST(sum(CASE WHEN hq AND pred_hq THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN NOT hq AND pred_hq THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN hq AND NOT pred_hq THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN NOT hq AND NOT pred_hq THEN 1 ELSE 0 END) AS BIGINT) AS tn
           FROM scored)
         SELECT tp, fp, fn, tn,
                round(tp / nullif(CAST(tp + fp AS DOUBLE), 0.0), 6)
                  AS precision,
                round(tp / nullif(CAST(tp + fn AS DOUBLE), 0.0), 6) AS recall,
                round(2 * tp / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0), 6)
                  AS f1,
                round((tp + tn)
                      / nullif(CAST(tp + fp + fn + tn AS DOUBLE), 0.0), 6)
                  AS accuracy
         FROM cm""",
    "q287_nb_calibration" ->
      s"""WITH $nbScoreCtesSql,
         n1 AS (SELECT count(*) AS n FROM scored),
         cum AS (SELECT score_micro,
                        sum(c) OVER (ORDER BY score_micro) AS cum
                 FROM (SELECT score_micro, count(*) AS c
                       FROM scored GROUP BY 1)),
         ks AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS k),
         bl AS (SELECT k, min(score_micro) AS b FROM ks, cum, n1
                WHERE cum >= (n1.n * k + 9) // 10 GROUP BY k),
         bs AS (SELECT list(b ORDER BY k) AS bs FROM bl),
         dec AS (SELECT s.hq, s.score_micro,
                   1 + CAST(len(list_filter(b.bs, x -> s.score_micro > x))
                            AS BIGINT) AS decile
                 FROM scored s CROSS JOIN bs b)
         SELECT decile,
                CAST(count(*) AS BIGINT) AS n,
                round(sum(score_micro) / CAST(count(*) AS DOUBLE), 2)
                  AS mean_score,
                CAST(sum(CASE WHEN hq THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                round(sum(CASE WHEN hq THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 4) AS pos_rate
         FROM dec GROUP BY 1""",
    "q265_linkage_funnel" ->
      """WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part),
         p AS (SELECT a.name AS a, b.name AS b
               FROM n a JOIN n b
                 ON a.name < b.name AND abs(len(a.name) - len(b.name)) <= 2
               WHERE levenshtein(a.name, b.name) <= 2),
         sym AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
         reach(node, m) AS (
           SELECT name, name FROM n
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m),
         lab AS (SELECT node, min(m) AS canonical FROM reach GROUP BY node),
         sz AS (SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
                FROM lab GROUP BY 1)
         SELECT node AS name, lab.canonical, cluster_size
         FROM lab JOIN sz USING (canonical)""",
    "q266_zipf_fit" ->
      """WITH cf AS (SELECT t.token AS term, CAST(count(*) AS BIGINT) AS cf
               FROM (SELECT unnest(string_split(text, ' ')) AS token
                     FROM documents) t
               WHERE t.token <> '' GROUP BY 1),
         rk AS (SELECT term, cf,
                  row_number() OVER (ORDER BY cf DESC, term) AS rank FROM cf),
         b AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                      CAST(round(ln(CAST(cf AS DOUBLE)) * 1e6) AS BIGINT) AS y
               FROM rk),
         a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                      sum(x * y) AS sxy, sum(x * x) AS sxx,
                      CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
               FROM b),
         s AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
                      CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                      CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
                      syy
               FROM a),
         f AS (SELECT n, nd, sxd, syd,
                      nd * sxyd - sxd * syd AS num,
                      nd * sxxd - sxd * sxd AS denx,
                      nd * syy - syd * syd AS deny,
                      round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
                        AS slope
               FROM s)
         SELECT 'zipf' AS g, n, slope,
                round(syd / nd - slope * (sxd / nd), 4) AS intercept,
                round(num * num / (denx * deny), 6) AS r2
         FROM f""",
    "q263_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id,
                md5('7:'||CAST(doc_id AS VARCHAR)) AS h FROM documents),
         s AS (SELECT doc_id, h,
                CAST(('0x'||substr(h, 1, 8)) AS BIGINT) % 32 AS shard FROM k)
         SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                     AS BIGINT) AS pos
         FROM s""",
    "q254_sorted_neighborhood" ->
      """WITH n AS (SELECT DISTINCT c_name AS name FROM customer),
         r AS (SELECT name, row_number() OVER (ORDER BY name) AS rn FROM n)
         SELECT a.name AS a, b.name AS b,
                CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
         FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 4
         WHERE levenshtein(a.name, b.name) <= 2""",
    "q253_edit_distance_join" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
         SELECT a.name AS a, b.name AS b,
                CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
         FROM n a JOIN n b
           ON a.name < b.name AND abs(len(a.name) - len(b.name)) <= 2
         WHERE levenshtein(a.name, b.name) <= 2""",
    "q245_corpus_build" ->
      """WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks
                    FROM documents),
         sc AS (SELECT doc_id, source, text,
                  round(least(1.0, len(toks) / 100.0) *
                        (1.0 - len(list_filter(toks, x -> x IN ('the','a','of','and')))
                               / CAST(len(toks) AS DOUBLE)), 4) AS quality
                FROM t WHERE doc_id >= 20),
         f1 AS (SELECT *, quality >= 0.9 AS pass_q FROM sc),
         f2 AS (SELECT *, pass_q AND doc_id =
                  min(CASE WHEN pass_q THEN doc_id END) OVER (PARTITION BY md5(text))
                  AS pass_c FROM f1),
         g AS (SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
                   i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])) AS g
               FROM t),
         ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
         dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN ev ON g.g = ev.g
                   WHERE g.doc_id >= 20),
         f3 AS (SELECT f2.*, f2.pass_c AND d.doc_id IS NULL AS pass_d
                FROM f2 LEFT JOIN dirty d ON f2.doc_id = d.doc_id),
         f4 AS (SELECT *, pass_d AND
                  CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                    % 10 < 7 AS pass_s FROM f3)
         SELECT source, count(*) AS n_in,
           CAST(sum(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(sum(CASE WHEN pass_c THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
           CAST(sum(CASE WHEN pass_d THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN pass_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         FROM f4 GROUP BY 1""",
    "q243_viterbi_segment" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      replace(substr(text, 1, 60), ' ', '') AS s
               FROM documents),
         tok AS (SELECT unnest(toks) AS tt FROM t),
         tc AS (SELECT tt AS piece, count(*) AS c FROM tok
                WHERE tt <> '' AND length(tt) <= 12
                GROUP BY 1 ORDER BY c DESC, tt LIMIT 512),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM tc),
         vocab AS (SELECT piece, min(cost) AS cost FROM (
                   SELECT piece, CAST(round(-ln(c / total) * 1000000) AS BIGINT) AS cost
                     FROM tc CROSS JOIN tot
                   UNION ALL
                   SELECT chr(CAST(96 + g.i AS INTEGER)), CAST(20000000 AS BIGINT)
                     FROM generate_series(1, 26) g(i)) GROUP BY 1),
         walk(doc_id, s, i, dps, paths) AS (
           SELECT doc_id, s, 0,
                  [CAST(0 AS BIGINT), NULL, NULL, NULL, NULL, NULL,
                   NULL, NULL, NULL, NULL, NULL, NULL],
                  ['', NULL, NULL, NULL, NULL, NULL,
                   NULL, NULL, NULL, NULL, NULL, NULL]
           FROM t
           UNION ALL
           SELECT q.doc_id, q.s, q.i,
                  list_prepend(q.best.cand, q.dps)[1:12],
                  list_prepend(CASE WHEN q.paths[q.best.j] = ''
                                    THEN substr(q.s, q.i - q.best.j + 1, q.best.j)
                                    ELSE q.paths[q.best.j] || '|' ||
                                         substr(q.s, q.i - q.best.j + 1, q.best.j) END,
                               q.paths)[1:12]
           FROM (
             SELECT w.doc_id, any_value(w.s) AS s, w.i + 1 AS i,
                    any_value(w.dps) AS dps, any_value(w.paths) AS paths,
                    min(struct_pack(cand := w.dps[j.j] + v.cost, j := j.j)) AS best
             FROM walk w
             CROSS JOIN generate_series(1, 12) j(j)
             JOIN vocab v ON v.piece =
               substr(w.s, w.i + 2 - CAST(j.j AS INTEGER), CAST(j.j AS INTEGER))
             WHERE w.i < length(w.s) AND j.j <= w.i + 1
               AND w.dps[j.j] IS NOT NULL
             GROUP BY w.doc_id, w.i
           ) q
         )
         SELECT t.doc_id, w.paths[1] AS seg,
                CASE WHEN w.paths[1] = '' THEN 0
                     ELSE CAST(len(string_split(w.paths[1], '|')) AS BIGINT)
                END AS n_pieces
         FROM t LEFT JOIN walk w
           ON w.doc_id = t.doc_id AND w.i = length(t.s)""",
    "q236_pmi_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         uni AS (SELECT unnest(toks) AS term FROM t),
         cf AS (SELECT term, count(*) AS c FROM uni GROUP BY 1),
         nu AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM uni),
         bg AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                       i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
                FROM t),
         cb AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS n FROM bg GROUP BY 1, 2),
         nb AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM bg)
         SELECT w1 || ' ' || w2 AS bigram, cb.n,
                round(ln((cb.n / nb.n) /
                  ((c1.c / nu.n) * (c2.c / nu.n))), 4) AS pmi
         FROM cb
         JOIN cf c1 ON c1.term = cb.w1
         JOIN cf c2 ON c2.term = cb.w2
         CROSS JOIN nu CROSS JOIN nb
         WHERE cb.n >= 5
         ORDER BY pmi DESC, bigram ASC
         LIMIT 20""",
    "q152_unigram_surprisal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
         cf AS (SELECT term, count(*) AS cf FROM terms GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM terms),
         nll AS (SELECT doc_id, -ln(cf.cf / tot.total) AS nll
                 FROM terms JOIN cf USING (term) CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                round(avg(nll), 4) AS surprisal
         FROM nll GROUP BY 1""",
    "q151_component_representative" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, m) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m),
         comp AS (SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id
                  FROM reach GROUP BY node),
         qc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(toks, w -> w IN ('the','a','of','and'))) AS BIGINT) AS n_stop
                FROM t),
         q AS (SELECT doc_id,
                 round(least(1.0, n_tokens/100.0) * (1.0 - n_stop/n_tokens), 4) AS quality
               FROM qc),
         r AS (SELECT c.doc_id, c.canonical_id, q.quality,
                 row_number() OVER (PARTITION BY c.canonical_id
                   ORDER BY q.quality DESC, c.doc_id ASC) AS rn
               FROM comp c JOIN q USING (doc_id))
         SELECT doc_id, canonical_id, quality, (rn = 1) AS keep FROM r""",
    "q147_quality_calibration" ->
      """WITH t AS (SELECT doc_id, source, text,
                 string_split(text,' ') AS toks FROM documents),
         c AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(toks, t -> t IN ('the','a','of','and'))) AS BIGINT) AS n_stop
               FROM t),
         q AS (SELECT doc_id, source,
                 round(least(1.0, n_tokens/100.0) * (1.0 - n_stop/n_tokens), 4) AS quality
               FROM c),
         r AS (SELECT doc_id, source, quality,
                 round(percent_rank() OVER (PARTITION BY source
                   ORDER BY quality DESC, doc_id ASC), 6) AS pr
               FROM q)
         SELECT doc_id, source, quality, pr, (pr < 0.5) AS keep FROM r""",
    "q140_quality_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         m AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
           CAST(len(list_intersect(toks,
             ['the','a','of','to','and'])) AS BIGINT) AS n_stop,
           CAST(list_max(list_transform(list_distinct(toks),
             w -> len(list_filter(toks, t -> t = w)))) AS BIGINT) AS max_count,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         FROM t)
         SELECT doc_id, n_words,
           n_words >= 30 AND n_words <= 100000 AS ok_count,
           sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS ok_word_len,
           n_stop >= 2 AS ok_stopwords,
           max_count * 5 <= n_words AS ok_max_share,
           n_distinct * 10 >= n_words * 3 AS ok_ttr,
           (n_words >= 30 AND n_words <= 100000)
             AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
             AND n_stop >= 2 AND max_count * 5 <= n_words
             AND n_distinct * 10 >= n_words * 3 AS keep
         FROM m""",
    "q141_incremental_dedup" ->
      s"""WITH $minhashCtesSql,
         keyed AS (SELECT doc_id,
             md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS dup_key,
             CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
               % 100 >= 90 AS is_batch
           FROM t),
         sb AS (SELECT b.doc_id, b.band, b.bkey, k.is_batch
                FROM bands b JOIN keyed k ON b.doc_id = k.doc_id),
         ex AS (SELECT DISTINCT b.doc_id FROM keyed b
                WHERE b.is_batch AND EXISTS (SELECT 1 FROM keyed i
                  WHERE NOT i.is_batch AND i.dup_key = b.dup_key)),
         nr AS (SELECT DISTINCT b.doc_id FROM sb b
                WHERE b.is_batch AND EXISTS (SELECT 1 FROM sb i
                  WHERE NOT i.is_batch AND i.band = b.band AND i.bkey = b.bkey))
         SELECT k.doc_id,
           EXISTS (SELECT 1 FROM ex WHERE ex.doc_id = k.doc_id) AS exact_dup,
           EXISTS (SELECT 1 FROM nr WHERE nr.doc_id = k.doc_id) AS near_dup,
           NOT EXISTS (SELECT 1 FROM ex WHERE ex.doc_id = k.doc_id)
             AND NOT EXISTS (SELECT 1 FROM nr WHERE nr.doc_id = k.doc_id) AS admit
         FROM keyed k WHERE k.is_batch""",
    "q135_degree_histogram" ->
      s"""WITH $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         deg AS (SELECT doc_id, count(*) AS degree FROM (
                   SELECT doc_a AS doc_id FROM pairs
                   UNION ALL SELECT doc_b FROM pairs)
                 GROUP BY 1)
         SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         FROM deg GROUP BY 1""",
    "q134_stratum_cap" ->
      """WITH r AS (SELECT source, lang, doc_id,
           row_number() OVER (PARTITION BY source, lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         FROM documents)
         SELECT source, lang, CAST(count(*) AS BIGINT) AS n_kept,
                min(doc_id) AS first_kept
         FROM r WHERE rn <= 20 GROUP BY 1, 2""",
    "q133_packing_efficiency" ->
      """WITH d AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
         c AS (SELECT doc_id, n_toks,
           sum(n_toks) OVER (ORDER BY doc_id) AS cum FROM d),
         pk AS (SELECT CAST(floor((cum - n_toks) / 512.0) AS BIGINT) AS pack_id,
                       n_toks FROM c),
         pt AS (SELECT pack_id, sum(n_toks) AS toks FROM pk GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_packs,
           round(avg(toks / 512.0), 4) AS avg_fill,
           round(min(toks / 512.0), 4) AS min_fill,
           round(max(toks / 512.0), 4) AS max_fill
         FROM pt""",
    "q132_dedup_decision" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, m) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m),
         canon AS (SELECT node, CAST(min(m) AS BIGINT) AS canonical_id
                   FROM reach GROUP BY node)
         SELECT d.source,
           CAST(sum(CASE WHEN c.canonical_id = d.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS kept,
           CAST(sum(CASE WHEN c.canonical_id <> d.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS dropped
         FROM documents d JOIN canon c ON c.node = d.doc_id
         GROUP BY 1""",
    "q130_bpe_step" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         p AS (SELECT unnest(list_transform(range(1, length(tok)),
                 i -> substr(tok, i, 2))) AS pair
               FROM tk WHERE length(tok) >= 2)
         SELECT pair, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 5""",
    "q123_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         ch AS (SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 8 THEN
             list_transform(range(0, CAST(floor(len(toks)/8) AS BIGINT)),
               i -> array_to_string(toks[i*8+1 : i*8+8], ' '))
             ELSE [] END) AS chunk
         FROM t),
         cc AS (SELECT chunk, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1)
         SELECT ch.doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN cc.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(sum(CASE WHEN cc.ndocs > 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS dup_ratio
         FROM ch JOIN cc USING (chunk)
         GROUP BY ch.doc_id""",
    "q124_mixture_weights" ->
      """WITH n AS (SELECT source, count(*) AS n_docs,
           sqrt(CAST(count(*) AS DOUBLE)) AS w FROM documents GROUP BY 1),
         tot AS (SELECT sum(w) AS tw, sum(n_docs) AS tn FROM n)
         SELECT source, n_docs,
           round(w / tw, 5) AS p_sample,
           round(w / tw * tn / n_docs, 4) AS epochs
         FROM n CROSS JOIN tot""",
    "q125_cross_source_dups" ->
      """SELECT md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS dup_key,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         min(doc_id) AS keep_id, count(*) AS n_docs
         FROM documents GROUP BY 1
         HAVING count(DISTINCT source) > 1""",
    "q126_quality_funnel" ->
      """WITH t AS (SELECT n_chars,
           CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
           CAST(len(list_filter(string_split(text,' '),
             x -> x IN ('the','a','of','and'))) AS BIGINT) AS n_stop
         FROM documents)
         SELECT count(*) AS total,
           CAST(sum(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END) AS BIGINT)
             AS pass_length,
           CAST(sum(CASE WHEN n_chars >= 150 AND n_toks >= 40
             THEN 1 ELSE 0 END) AS BIGINT) AS pass_tokens,
           CAST(sum(CASE WHEN n_chars >= 150 AND n_toks >= 40
             AND n_stop / CAST(n_toks AS DOUBLE) <= 0.25
             THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword
         FROM t""",
    "q121_vocabulary" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents)
         SELECT term, CAST(count(*) AS BIGINT) AS cf,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         FROM t GROUP BY term
         ORDER BY cf DESC, term LIMIT 20""",
    "q122_tfidf" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         terms AS (SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS term FROM t),
         tf AS (SELECT doc_id, term, n_toks, count(*) AS c FROM terms GROUP BY 1, 2, 3),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         scored AS (SELECT tf.doc_id, tf.term,
           round(tf.c / CAST(tf.n_toks AS DOUBLE)
                 * ln(n.n_docs / CAST(df.df AS DOUBLE)), 5) AS score
           FROM tf JOIN df USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term) AS rn FROM scored)
         SELECT doc_id, term AS top_term, score FROM r WHERE rn = 1""",
    "q116_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
             i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])) AS g
         FROM t),
         ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 20)
         SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_hits
         FROM g JOIN ev ON g.g = ev.g
         WHERE g.doc_id >= 20
         GROUP BY g.doc_id""",
    "q111_clean_text" ->
      """WITH c AS (SELECT doc_id,
           list_filter(list_transform(string_split(text, ' '), t -> lower(t)),
                       t -> length(t) >= 3) AS ctoks
         FROM documents)
         SELECT doc_id, array_to_string(ctoks, ' ') AS clean_text,
                CAST(len(ctoks) AS BIGINT) AS n_toks
         FROM c WHERE len(ctoks) >= 30""",
    "q112_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
           CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS bucket
         FROM documents)
         SELECT doc_id, lang FROM b
         WHERE bucket < CASE WHEN lang = 'en' THEN 50 ELSE 100 END""",
    "q113_sequence_packing" ->
      """WITH d AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
         c AS (SELECT doc_id, n_toks,
           sum(n_toks) OVER (ORDER BY doc_id) AS cum FROM d)
         SELECT doc_id, CAST(floor((cum - n_toks) / 512.0) AS BIGINT) AS pack_id
         FROM c""",
    "q114_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         bg AS (SELECT doc_id,
           unnest(list_transform(range(1, len(toks)), i -> toks[i]||' '||toks[i+1])) AS bg
         FROM t),
         c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
         SELECT doc_id, round(max(c) / sum(c), 4) AS rep_score,
                CAST(sum(c) AS BIGINT) AS n_bigrams
         FROM c GROUP BY doc_id""",
    "q110_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, m) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m)
         SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id
         FROM reach GROUP BY node""",
    "q61_length_quantiles" ->
      """SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS p50,
         round(quantile_cont(n_chars, 0.9), 4) AS p90, count(*) AS n_docs
         FROM documents GROUP BY 1""",
    "q81_approx_stats" ->
      """WITH b AS (SELECT lang, text, n_chars,
                      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                           AS BIGINT) % 100 < 25 AS in_sample
                    FROM documents),
         h AS (SELECT DISTINCT lang, md5(text) AS h FROM documents),
         r AS (SELECT lang, h,
                      row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY lang) AS nd FROM h),
         kmv AS (SELECT lang,
                   round(CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
                         ELSE 63.0 / (CAST(('0x'||substr(h,1,8)) AS BIGINT)
                                      / 4294967296.0)
                         END, 4) AS kmv_texts
                 FROM r WHERE rn = least(nd, 64)),
         agg AS (SELECT lang, count(DISTINCT text) AS exact_texts,
                   round(quantile_cont(n_chars, 0.5)
                         FILTER (WHERE in_sample), 1) AS sample_p50,
                   round(quantile_cont(n_chars, 0.5), 1) AS exact_p50
                 FROM b GROUP BY 1)
         SELECT agg.lang AS lang, kmv.kmv_texts, agg.exact_texts,
                agg.sample_p50, agg.exact_p50
         FROM agg JOIN kmv USING (lang)""",
    "q58_train_test_split" ->
      """WITH b AS (
           SELECT lang,
                  CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS bucket
           FROM documents)
         SELECT lang,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n
         FROM b GROUP BY 1, 2""",
    "q56_simhash_pairs" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents WHERE doc_id < 300),
         b AS (SELECT doc_id,
             $simhashSumsSql
           FROM t),
         s AS (SELECT doc_id, $simhashConcatSql AS simhash FROM b)
         SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                CAST(hamming(a.simhash, b2.simhash) AS BIGINT) AS dist
         FROM s a JOIN s b2 ON a.doc_id < b2.doc_id
         WHERE hamming(a.simhash, b2.simhash) <= 2""",
    "q55_bottomk_sketch" ->
      """WITH h AS (SELECT DISTINCT lang, md5(text) AS h FROM documents),
         r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h)
         SELECT lang, string_agg(h, ',' ORDER BY h) AS sketch
         FROM r WHERE rn <= 3 GROUP BY 1""",
    "q267_hll_sketch" ->
      """WITH h AS (SELECT lang, md5(text) AS h FROM documents),
         b AS (SELECT lang,
                 CAST(('0x'||substr(h, 1, 2)) AS BIGINT) AS bucket,
                 CAST(('0x'||substr(h, 3, 12)) AS BIGINT) AS tail48
               FROM h),
         r AS (SELECT lang, bucket,
                 max(CASE WHEN tail48 = 0 THEN 49
                     ELSE 49 - len(bin(tail48)) END) AS reg
               FROM b GROUP BY 1, 2),
         a AS (SELECT lang,
                 CAST(sum(CAST(1 AS BIGINT) << CAST(49 - reg AS INT))
                      + (256 - count(*)) * (CAST(1 AS BIGINT) << 49)
                      AS BIGINT) AS s49,
                 CAST(256 - count(CASE WHEN reg > 0 THEN 1 END) AS BIGINT)
                   AS n_zero_regs
               FROM r GROUP BY 1),
         e AS (SELECT lang, s49, n_zero_regs,
                 ((0.7213 / (1 + 1.079 / 256)) * 256 * 256
                   * 562949953421312.0) / s49 AS raw_est
               FROM a),
         x AS (SELECT lang, count(DISTINCT text) AS exact_texts
               FROM documents GROUP BY 1)
         SELECT e.lang AS lang,
                round(CASE WHEN raw_est <= 640.0 AND n_zero_regs > 0
                      THEN 256.0 * ln(256.0 / n_zero_regs)
                      ELSE raw_est END, 4) AS hll_texts,
                exact_texts, n_zero_regs
         FROM e JOIN x ON e.lang = x.lang""",
    "q273_bpe_train" -> bpeOracleSql,
    "q288_lsh_pr_eval" ->
      s"""WITH $minhashCtesSql,
         cnd AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bkey = b.bkey
                      AND a.doc_id < b.doc_id),
         td AS (SELECT doc_id, list_distinct($shinglesSql) AS td FROM t),
         ex2 AS (SELECT doc_id, unnest(td) AS tok FROM td),
         tf2 AS (SELECT tok, count(*) AS freq FROM ex2 GROUP BY 1),
         srt AS (SELECT e.doc_id,
                   array_agg(e.tok ORDER BY f.freq, e.tok) AS sorted,
                   count(*) AS n
                 FROM ex2 e JOIN tf2 f ON f.tok = e.tok GROUP BY 1),
         pfx AS (SELECT doc_id, n,
                   unnest(sorted[1 : CAST(n - ((n + 1) // 2) + 1 AS INT)])
                     AS ptok
                 FROM srt),
         cp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM pfx a JOIN pfx b
                  ON a.ptok = b.ptok AND a.doc_id < b.doc_id),
         tr AS (SELECT doc_a, doc_b FROM (
                  SELECT doc_a, doc_b,
                    CAST(len(list_intersect(ta.td, tb.td)) AS BIGINT) AS inter,
                    CAST(len(ta.td) + len(tb.td)
                         - len(list_intersect(ta.td, tb.td)) AS BIGINT) AS uni
                  FROM cp JOIN td ta ON ta.doc_id = doc_a
                          JOIN td tb ON tb.doc_id = doc_b)
                WHERE inter * 2 >= uni),
         h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
               FROM cnd JOIN tr USING (doc_a, doc_b)),
         ncc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cnd),
         ntt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr)
         SELECT n_candidates, n_truth, n_hits,
                round(n_hits / nullif(CAST(n_candidates AS DOUBLE), 0.0), 4)
                  AS precision,
                round(n_hits / nullif(CAST(n_truth AS DOUBLE), 0.0), 4)
                  AS recall
         FROM ncc CROSS JOIN ntt CROSS JOIN h""",
    "q292_robust_spread" ->
      """WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
               FROM documents GROUP BY 1),
         dev AS (SELECT d.lang, med,
                   abs(n_chars * 2 - CAST(med * 2 AS BIGINT)) AS dev2
                 FROM documents d JOIN med USING (lang)),
         m4 AS (SELECT lang,
                  CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
                FROM dev GROUP BY 1)
         SELECT dev.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs,
                round(max(med), 1) AS median,
                round(max(mad4) / 4.0, 2) AS mad,
                CAST(sum(CASE WHEN dev2 * 2 > mad4 * 3 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers
         FROM dev JOIN m4 USING (lang) GROUP BY 1""",
    "q293_contamination_by_source" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         g AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
             i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])) AS g
         FROM t),
         ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
         tot AS (SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_grams
                 FROM g WHERE doc_id >= 20 GROUP BY 1),
         h AS (SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_hits
               FROM g JOIN ev ON g.g = ev.g
               WHERE g.doc_id >= 20 GROUP BY 1),
         fr AS (SELECT tot.doc_id, n_grams,
                  COALESCE(n_hits, 0) AS n_hits,
                  round(COALESCE(n_hits, 0) / CAST(n_grams AS DOUBLE), 4)
                    AS frac,
                  COALESCE(n_hits, 0) * 10 >= n_grams AS contaminated
                FROM tot LEFT JOIN h ON h.doc_id = tot.doc_id),
         j AS (SELECT fr.*, d.source FROM fr
               JOIN documents d ON d.doc_id = fr.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_contaminated,
                round(sum(CASE WHEN contaminated THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 4) AS contaminated_share,
                CAST(-(max(struct_pack(a := frac, b := -doc_id)).b)
                     AS BIGINT) AS worst_doc,
                max(struct_pack(a := frac, b := -doc_id)).a AS worst_frac
         FROM j GROUP BY 1""",
    "q290_top_terms_drift" ->
      """WITH cf AS (SELECT t.token AS t,
                 CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS cf1,
                 CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)
                      AS BIGINT) AS cf2
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents) t
               WHERE t.token <> '' GROUP BY 1),
         t1 AS (SELECT t, rank_v1, cf1 FROM (
                  SELECT t, cf1, CAST(row_number() OVER (
                    ORDER BY cf1 DESC, t) AS BIGINT) AS rank_v1
                  FROM cf WHERE cf1 > 0) WHERE rank_v1 <= 20),
         t2 AS (SELECT t, rank_v2, cf2 FROM (
                  SELECT t, cf2, CAST(row_number() OVER (
                    ORDER BY cf2 DESC, t) AS BIGINT) AS rank_v2
                  FROM cf WHERE cf2 > 0) WHERE rank_v2 <= 20)
         SELECT COALESCE(t1.t, t2.t) AS term, rank_v1, cf1 AS cf_v1,
                rank_v2, cf2 AS cf_v2
         FROM t1 FULL OUTER JOIN t2 ON t1.t = t2.t""",
    "q289_term_burstiness" ->
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
         tc AS (SELECT t.token AS term, doc_id, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                      FROM documents) t
                WHERE t.token <> '' GROUP BY 1, 2),
         a AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                 CAST(sum(c) AS BIGINT) AS cf,
                 CAST(sum(c * c) AS BIGINT) AS cf2
               FROM tc GROUP BY 1)
         SELECT term, df, cf,
                round((nd * cf2 - cf * cf) / CAST(nd * cf AS DOUBLE), 6)
                  AS vmr
         FROM a CROSS JOIN nd
         ORDER BY cf DESC, term LIMIT 20""",
    "q285_phrase_query" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         bg AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                         i -> toks[i]||' '||toks[i+1])
                  ELSE [] END) AS bg
                FROM t),
         top3 AS (SELECT bg FROM (
                    SELECT bg, count(*) AS n FROM bg
                    WHERE bg NOT LIKE ' %' AND bg NOT LIKE '% '
                    GROUP BY 1 ORDER BY n DESC, bg LIMIT 3)),
         occ AS (SELECT doc_id, bg FROM bg
                 WHERE bg IN (SELECT bg FROM top3))
         SELECT bg AS phrase, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_occ
         FROM occ GROUP BY 1""",
    "q284_inverted_index" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         px AS (SELECT doc_id, u.p AS p, u.t AS t FROM (
                  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
                    i -> {'p': i - 1, 't': toks[i]})) AS u
                  FROM t)
                WHERE u.t <> ''),
         pd AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS c,
                  CAST(doc_id AS VARCHAR)||':'||array_to_string(
                    list_transform(list_sort(list(p)),
                      x -> CAST(x AS VARCHAR)), '|') AS entry
                FROM px GROUP BY t, doc_id)
         SELECT t AS term, CAST(count(*) AS BIGINT) AS df,
                CAST(sum(c) AS BIGINT) AS cf,
                md5(string_agg(entry, ',' ORDER BY doc_id)) AS postings_md5,
                CAST(max(doc_id) - min(doc_id) AS BIGINT) AS id_span
         FROM pd GROUP BY 1 ORDER BY cf DESC, term LIMIT 20""",
    "q281_survivorship" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, m) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m),
         lab AS (SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id
                 FROM reach GROUP BY node),
         tc AS (SELECT doc_id, t.token AS t, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                      FROM documents) t
                WHERE t.token <> '' GROUP BY 1, 2),
         ea AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
                  CAST(sum(c * CAST(round(ln(c) * 1000000) AS BIGINT))
                       AS BIGINT) AS sc
                FROM tc GROUP BY 1),
         en AS (SELECT doc_id,
                  round((n_toks * CAST(round(ln(n_toks) * 1000000) AS BIGINT)
                         - sc) / (n_toks * 1000000.0), 6) AS entropy
                FROM ea),
         m AS (SELECT lab.doc_id, canonical_id, d.n_chars, en.entropy
               FROM lab JOIN documents d USING (doc_id)
                        JOIN en USING (doc_id)),
         p AS (SELECT canonical_id,
                 first_value(doc_id) OVER (PARTITION BY canonical_id
                   ORDER BY doc_id) AS rep_min_id,
                 first_value(doc_id) OVER (PARTITION BY canonical_id
                   ORDER BY n_chars DESC, doc_id) AS rep_longest,
                 first_value(doc_id) OVER (PARTITION BY canonical_id
                   ORDER BY entropy DESC, doc_id) AS rep_max_entropy
               FROM m),
         g AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size,
                 CAST(max(rep_min_id) AS BIGINT) AS rep_min_id,
                 CAST(max(rep_longest) AS BIGINT) AS rep_longest,
                 CAST(max(rep_max_entropy) AS BIGINT) AS rep_max_entropy
               FROM p GROUP BY 1 HAVING count(*) >= 2)
         SELECT canonical_id, cluster_size, rep_min_id, rep_longest,
                rep_max_entropy,
                CAST(len(list_distinct([rep_min_id, rep_longest,
                  rep_max_entropy])) AS BIGINT) AS n_distinct_reps
         FROM g""",
    "q282_overlap_fraction" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         g AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
             i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])) AS g
         FROM t),
         ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
         tot AS (SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_grams
                 FROM g WHERE doc_id >= 20 GROUP BY 1),
         h AS (SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_hits
               FROM g JOIN ev ON g.g = ev.g
               WHERE g.doc_id >= 20 GROUP BY 1)
         SELECT tot.doc_id, n_grams,
                CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
                round(COALESCE(n_hits, 0) / CAST(n_grams AS DOUBLE), 4) AS frac,
                COALESCE(n_hits, 0) * 10 >= n_grams AS contaminated
         FROM tot LEFT JOIN h ON h.doc_id = tot.doc_id""",
    "q280_token_entropy" ->
      """WITH tc AS (SELECT doc_id, t.token AS t, CAST(count(*) AS BIGINT) AS c
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents) t
               WHERE t.token <> '' GROUP BY 1, 2),
         a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
                 CAST(sum(c * CAST(round(ln(c) * 1000000) AS BIGINT))
                      AS BIGINT) AS sc
               FROM tc GROUP BY 1),
         e AS (SELECT doc_id, n_toks,
                 n_toks * CAST(round(ln(n_toks) * 1000000) AS BIGINT) - sc
                   AS score_micro
               FROM a)
         SELECT doc_id, n_toks,
                round(score_micro / (n_toks * 1000000.0), 6) AS entropy,
                score_micro < n_toks * 2000000 AS low_entropy
         FROM e""",
    "q276_winnowing" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         s0 AS (SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                    i -> {'i': i - 1,
                          'sh': toks[i]||' '||toks[i+1]||' '||toks[i+2]})) AS p
                FROM t),
         s AS (SELECT doc_id, p.i AS i,
                 CAST(('0x'||substr(md5(p.sh), 1, 8)) AS BIGINT) AS h
               FROM s0),
         k AS (SELECT doc_id, i,
                 count(*) OVER (PARTITION BY doc_id) AS n,
                 min(h * 1048576 + (1048575 - i)) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
               FROM s),
         f AS (SELECT DISTINCT doc_id, wmin // 1048576 AS fph
               FROM k WHERE i <= n - 4)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM f a JOIN f b ON a.fph = b.fph AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q274_histogram_quantiles" ->
      """WITH h AS (SELECT lang, n_chars // 4 AS bin,
                 CAST(count(*) AS BIGINT) AS c
               FROM documents GROUP BY 1, 2),
         t AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
         cm AS (SELECT h.lang, bin, c, n,
                  sum(c) OVER (PARTITION BY h.lang ORDER BY bin) AS cum
                FROM h JOIN t ON t.lang = h.lang),
         e AS (SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
                 CAST(min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
                          THEN bin * 4 + 3 END) AS BIGINT) AS hist_p50,
                 CAST(min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT)
                          THEN bin * 4 + 3 END) AS BIGINT) AS hist_p90
               FROM cm GROUP BY 1),
         x AS (SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS exact_p50,
                      round(quantile_cont(n_chars, 0.9), 4) AS exact_p90
               FROM documents GROUP BY 1)
         SELECT e.lang AS lang, n_docs, hist_p50, exact_p50,
                hist_p90, exact_p90
         FROM e JOIN x ON x.lang = e.lang""",
    "q275_group_kfold" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, m) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.m),
         lab AS (SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id
                 FROM reach GROUP BY node),
         f AS (SELECT doc_id, canonical_id,
                 CAST(('0x'||substr(md5(CAST(canonical_id AS VARCHAR)), 1, 4))
                      AS BIGINT) % 5 AS fold
               FROM lab),
         cr AS (SELECT CAST(COALESCE(sum(CASE WHEN fa.fold <> fb.fold
                                         THEN 1 ELSE 0 END), 0) AS BIGINT)
                  AS n_crossing_pairs
                FROM pairs p JOIN f fa ON fa.doc_id = p.doc_a
                             JOIN f fb ON fb.doc_id = p.doc_b)
         SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_clusters,
                n_crossing_pairs
         FROM f CROSS JOIN cr GROUP BY fold, n_crossing_pairs""",
    "q269_kmv_source_jaccard" ->
      """WITH st AS (SELECT DISTINCT source, md5(text) AS h FROM documents),
         r AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
               FROM st),
         sk AS (SELECT source, list(h ORDER BY h) AS sk
                FROM r WHERE rn <= 64 GROUP BY 1),
         sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                FROM st GROUP BY 1),
         ix AS (SELECT a.source AS src_a, b.source AS src_b,
                  CAST(count(*) AS BIGINT) AS n_inter
                FROM st a JOIN st b
                  ON a.h = b.h AND a.source < b.source
                GROUP BY 1, 2),
         p AS (SELECT a.source AS src_a, b.source AS src_b,
                 a.sk AS ska, b.sk AS skb,
                 list_sort(list_distinct(a.sk || b.sk))[1:64] AS u
               FROM sk a JOIN sk b ON a.source < b.source),
         m AS (SELECT src_a, src_b,
                 len(list_filter(u, x ->
                   list_contains(ska, x) AND list_contains(skb, x))) AS mt,
                 len(u) AS du
               FROM p)
         SELECT m.src_a, m.src_b,
                round(mt / CAST(du AS DOUBLE), 4) AS kmv_jaccard,
                round(COALESCE(n_inter, 0)
                      / CAST(na.n + nb.n - COALESCE(n_inter, 0) AS DOUBLE), 4)
                  AS exact_jaccard
         FROM m JOIN sz na ON na.source = m.src_a
                JOIN sz nb ON nb.source = m.src_b
                LEFT JOIN ix ON ix.src_a = m.src_a AND ix.src_b = m.src_b""",
    "q272_sliding_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         st AS (SELECT doc_id, toks,
                  unnest(range(0, greatest(0, ((len(toks) - 9) // 24) * 24)
                               + 1, 24)) AS start_tok
                FROM t),
         c AS (SELECT doc_id, start_tok,
                 toks[start_tok + 1 : start_tok + 32] AS chunk
               FROM st)
         SELECT doc_id, CAST(start_tok // 24 AS BIGINT) AS chunk_idx,
                CAST(start_tok AS BIGINT) AS start_tok,
                CAST(len(chunk) AS BIGINT) AS n_toks,
                md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM c""",
    "q268_count_min_sketch" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         s AS (SELECT unnest($shinglesSql) AS sh FROM t WHERE len(toks) >= 3),
         tf AS (SELECT sh, CAST(count(*) AS BIGINT) AS cf FROM s GROUP BY 1),
         hx AS (SELECT sh, cf, r,
                  CAST(('0x'||substr(md5(CAST(r AS VARCHAR)||':'||sh), 1, 4))
                       AS BIGINT) % 1024 AS idx
                FROM tf, range(0, 4) tr(r)),
         cnt AS (SELECT r, idx, CAST(sum(cf) AS BIGINT) AS counter
                 FROM hx GROUP BY 1, 2),
         top AS (SELECT sh, cf FROM tf ORDER BY cf DESC, sh LIMIT 10)
         SELECT top.sh, top.cf AS exact_cf,
                CAST(min(counter) AS BIGINT) AS cms_cf,
                CAST(min(counter) - top.cf AS BIGINT) AS overestimate
         FROM top JOIN hx ON hx.sh = top.sh
                  JOIN cnt ON cnt.r = hx.r AND cnt.idx = hx.idx
         GROUP BY 1, 2""",
    "q33_dedup_exact" ->
      """SELECT md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS dup_key,
         min(doc_id) AS keep_id, count(*) AS n_docs
         FROM documents GROUP BY 1""",
    "q34_minhash_lsh" ->
      s"""WITH $minhashCtesSql
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""",
    "q271_split_leakage" ->
      s"""WITH $minhashCtesSql,
         pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bkey = b.bkey
                     AND a.doc_id < b.doc_id),
         sp AS (SELECT doc_id,
                  CASE WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),
                                  1, 4)) AS BIGINT) % 100 < 80 THEN 'train'
                       WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),
                                  1, 4)) AS BIGINT) % 100 < 90 THEN 'valid'
                       ELSE 'test' END AS split
                FROM documents),
         j AS (SELECT least(sa.split, sb.split) AS split_lo,
                      greatest(sa.split, sb.split) AS split_hi
               FROM pr JOIN sp sa ON sa.doc_id = pr.doc_a
                       JOIN sp sb ON sb.doc_id = pr.doc_b)
         SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
                split_lo <> split_hi AS leaked
         FROM j GROUP BY 1, 2""",
    "q170_prefix_join" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
         td AS (SELECT doc_id, list_distinct($shinglesSql) AS td FROM t),
         ex AS (SELECT doc_id, unnest(td) AS tok FROM td),
         tf AS (SELECT tok, count(*) AS freq FROM ex GROUP BY 1),
         srt AS (SELECT e.doc_id,
                   array_agg(e.tok ORDER BY f.freq, e.tok) AS sorted,
                   count(*) AS n
                 FROM ex e JOIN tf f ON f.tok = e.tok GROUP BY 1),
         pfx AS (SELECT doc_id, n,
                   unnest(sorted[1 : CAST(n - ((4 * n + 4) // 5) + 1 AS INT)])
                     AS ptok
                 FROM srt),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM pfx a JOIN pfx b
                    ON a.ptok = b.ptok AND a.doc_id < b.doc_id),
         v AS (SELECT doc_a, doc_b,
                 CAST(len(list_intersect(ta.td, tb.td)) AS BIGINT) AS inter,
                 CAST(len(ta.td) + len(tb.td)
                      - len(list_intersect(ta.td, tb.td)) AS BIGINT) AS uni
               FROM cand JOIN td ta ON ta.doc_id = doc_a
                         JOIN td tb ON tb.doc_id = doc_b)
         SELECT doc_a, doc_b, inter, uni, round(inter / uni, 4) AS jac
         FROM v WHERE inter * 5 >= uni * 4""",
    "q163_lsh_calibration" ->
      s"""WITH $minhashCtesSql,
         sub AS (SELECT doc_id, shingles FROM sh WHERE doc_id < 300),
         sd AS (SELECT doc_id, list_distinct(shingles) AS sdist FROM sub),
         exx AS (SELECT doc_id, unnest(sdist) AS s FROM sd),
         it AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                FROM exx a JOIN exx b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sdist) AS n FROM sd),
         gt AS (SELECT da, db FROM it
                JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
                WHERE i / (sa.n + sb.n - i) >= 0.5),
         bs AS (SELECT g.* FROM sig g JOIN sub USING (doc_id)
                WHERE len(sub.shingles) > 0),
         ba AS (SELECT doc_id, 0 AS band, md5(h0::VARCHAR||'_'||h1::VARCHAR) AS bkey FROM bs
                UNION ALL SELECT doc_id, 1, md5(h2::VARCHAR||'_'||h3::VARCHAR) FROM bs
                UNION ALL SELECT doc_id, 2, md5(h4::VARCHAR||'_'||h5::VARCHAR) FROM bs
                UNION ALL SELECT doc_id, 3, md5(h6::VARCHAR||'_'||h7::VARCHAR) FROM bs),
         bb AS (SELECT doc_id, 0 AS band,
                  md5(h0::VARCHAR||'_'||h1::VARCHAR||'_'||h2::VARCHAR||'_'||h3::VARCHAR) AS bkey FROM bs
                UNION ALL SELECT doc_id, 1,
                  md5(h4::VARCHAR||'_'||h5::VARCHAR||'_'||h6::VARCHAR||'_'||h7::VARCHAR) FROM bs),
         ca AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM ba x
                JOIN ba y ON x.band = y.band AND x.bkey = y.bkey
                            AND x.doc_id < y.doc_id),
         cb AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bb x
                JOIN bb y ON x.band = y.band AND x.bkey = y.bkey
                            AND x.doc_id < y.doc_id),
         nt AS (SELECT count(*) AS n FROM gt)
         SELECT 'b4r2' AS scheme,
                (SELECT count(*) FROM ca) AS n_candidates,
                (SELECT count(*) FROM ca JOIN gt ON gt.da = ca.da AND gt.db = ca.db) AS n_true_pos,
                (SELECT n FROM nt) AS n_ground_truth,
                round(CASE WHEN (SELECT count(*) FROM ca) = 0 THEN 0
                  ELSE (SELECT count(*) FROM ca JOIN gt ON gt.da = ca.da AND gt.db = ca.db)
                       / CAST((SELECT count(*) FROM ca) AS DOUBLE) END, 4) AS precision,
                round(CASE WHEN (SELECT n FROM nt) = 0 THEN 0
                  ELSE (SELECT count(*) FROM ca JOIN gt ON gt.da = ca.da AND gt.db = ca.db)
                       / CAST((SELECT n FROM nt) AS DOUBLE) END, 4) AS recall
         UNION ALL
         SELECT 'b2r4',
                (SELECT count(*) FROM cb),
                (SELECT count(*) FROM cb JOIN gt ON gt.da = cb.da AND gt.db = cb.db),
                (SELECT n FROM nt),
                round(CASE WHEN (SELECT count(*) FROM cb) = 0 THEN 0
                  ELSE (SELECT count(*) FROM cb JOIN gt ON gt.da = cb.da AND gt.db = cb.db)
                       / CAST((SELECT count(*) FROM cb) AS DOUBLE) END, 4),
                round(CASE WHEN (SELECT n FROM nt) = 0 THEN 0
                  ELSE (SELECT count(*) FROM cb JOIN gt ON gt.da = cb.da AND gt.db = cb.db)
                       / CAST((SELECT n FROM nt) AS DOUBLE) END, 4)""",
    "q160_pii_redaction" ->
      """WITH d AS (SELECT source,
              CASE WHEN doc_id % 7 = 0
                   THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                        || '@example.com ref '
                        || CAST(doc_id * 1000003 + 777777777 AS VARCHAR)
                   ELSE text END AS text2
            FROM documents),
         r AS (SELECT source, text2,
                 len(regexp_extract_all(text2,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                 len(regexp_extract_all(regexp_replace(text2,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'), '[0-9]{9,}')) AS n_id,
                 regexp_replace(regexp_replace(text2,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'), '[0-9]{9,}', '<ID>', 'g') AS redacted
               FROM d)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN n_email + n_id > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_pii,
           CAST(sum(n_email) AS BIGINT) AS total_emails,
           CAST(sum(n_id) AS BIGINT) AS total_ids,
           CAST(sum(length(text2) - length(redacted)) AS BIGINT)
             AS chars_removed
         FROM r GROUP BY 1""",
    "q162_pair_triangles" ->
      s"""WITH $minhashCtesSql,
         pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                   FROM bands a JOIN bands b
                     ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id),
         deg AS (SELECT v, count(*) AS d FROM
                   (SELECT da AS v FROM pairs
                    UNION ALL SELECT db FROM pairs) GROUP BY 1),
         wd AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS w FROM deg),
         tr AS (SELECT count(*) AS t
                FROM pairs e1 JOIN pairs e2 ON e2.da = e1.db
                     JOIN pairs e3 ON e3.da = e1.da AND e3.db = e2.db)
         SELECT (SELECT count(*) FROM pairs) AS n_edges,
                tr.t AS n_triangles, wd.w AS n_wedges,
                round(CASE WHEN wd.w = 0 THEN 0 ELSE 3.0 * tr.t / wd.w END, 4)
                  AS global_cc
         FROM tr, wd""",
    "q35_simhash" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         b AS (SELECT doc_id,
             $simhashSumsSql
           FROM t)
         SELECT doc_id, $simhashConcatSql AS simhash FROM b""",
    "q36_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents WHERE doc_id < 200),
         bg AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(range(1, greatest(len(toks), 1)), i -> toks[i]||' '||toks[i+1]))) AS b
                FROM t),
         n AS (SELECT doc_id, count(*) AS nb FROM bg GROUP BY 1),
         s AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS sh
               FROM bg a JOIN bg b ON a.b = b.b AND a.doc_id < b.doc_id
               GROUP BY 1,2)
         SELECT doc_a, doc_b, round(sh/(na.nb+nb2.nb-sh), 4) AS jac
         FROM s JOIN n na ON doc_a = na.doc_id JOIN n nb2 ON doc_b = nb2.doc_id
         WHERE round(sh/(na.nb+nb2.nb-sh), 4) >= 0.3""",
    "q39_langid" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         c AS (SELECT doc_id,
                 len(list_filter(toks, t -> t IN ('the','a','data'))) AS c1,
                 len(list_filter(toks, t -> t IN ('spark','query','join'))) AS c2,
                 len(list_filter(toks, t -> t IN ('row','line','scan'))) AS c3
               FROM t)
         SELECT doc_id, c1, c2, c3,
           CASE WHEN c1 >= c2 AND c1 >= c3 THEN 'en'
                WHEN c2 >= c3 THEN 'tech' ELSE 'ops' END AS pred
         FROM c""",
    "q40_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents),
         c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(toks, t -> t IN ('the','a','of','and'))) AS BIGINT) AS n_stop,
                 CAST(length(text) AS BIGINT) AS chars
               FROM t)
         SELECT doc_id, n_tokens,
           round((chars - (n_tokens - 1))/n_tokens, 4) AS avg_tok_len,
           round(n_stop/n_tokens, 4) AS stop_ratio,
           round(least(1.0, n_tokens/100.0) * (1.0 - n_stop/n_tokens), 4) AS quality
         FROM c""",
    "q41_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS alpha_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS BIGINT) AS long_tokens
         FROM documents""",
    "q42_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         sh AS (SELECT doc_id, $shinglesSql AS shingles FROM t)
         SELECT doc_id,
           array_to_string(list_sort(list_transform(shingles, s -> md5(s)))[1:4], ',') AS fingerprint
         FROM sh"""
  )
}
