package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.{Skew, TripleStore}
import graft.util.Materialize

/** Composed operators: the career render (G6 — the reference's most complex
  * generator, combining role typing, event minting, time-span expansion G1,
  * and residence propagation J9), the double-OPTIONAL COALESCE semantics
  * pinned in SURVEY.md §7.3, and salted aggregation for skewed keys.
  */
object ComposeOps {

  /** G6: person-institution career render (get_data_apis_vanilla.py:352-510)
    * — per career: Career event typing, both participants, label, day-
    * precision time-span endpoints (G1), and the institution's residence
    * propagated onto the career as took_place_at (J9,
    * get_data_apis_vanilla.py:481-485). 7 triples per career row. */
  def q52CareerRender(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val base = l
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // mint the career id from the integer 4-tuple (doubles are excluded
        // from the key: double→string formatting differs across engines).
        concat(lit("CAR"), md5(concat_ws("|",
          col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
          col("l_partkey").cast("string"), col("l_suppkey").cast("string")))).as("car"),
        concat(lit("C"), col("o_custkey").cast("string")).as("person"),
        concat(lit("S"), col("l_suppkey").cast("string")).as("inst"),
        concat(lit("N"), col("s_nationkey").cast("string")).as("res"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
    val kv = array(
      struct(lit("type").as("p"), lit("Career").as("o")),
      struct(lit("participant_person").as("p"), col("person").as("o")),
      struct(lit("participant_inst").as("p"), col("inst").as("o")),
      struct(lit("label").as("p"),
        concat(lit("career of "), col("person"), lit(" at "), col("inst")).as("o")),
      struct(lit("begin").as("p"), concat(col("day"), lit("T00:00:00")).as("o")),
      struct(lit("end").as("p"), concat(col("day"), lit("T23:59:59")).as("o")),
      struct(lit("took_place_at").as("p"), col("res").as("o")))
    base.select(col("car").as("s"), explode(kv).as("x"))
      .select(col("s"), col("x.p").as("p"), col("x.o").as("o"))
  }

  /** Double OPTIONAL on the same variable + COALESCE — the reference's
    * de/en description pattern (sparql/wikidata-organization.sparql:29-35);
    * engine semantics pinned per SURVEY.md §7.3: independent left joins per
    * language, first-non-null pick. */
  def q53DoubleOptional(s: SparkSession, dir: String): DataFrame = {
    val labels = TripleStore.langLabels(s, dir)
    val ents = Tables.nation(s, dir)
      .select(concat(lit("N"), col("n_nationkey").cast("string")).as("node"))
    val de = labels.filter(col("lang") === "de")
      .select(col("entity").as("de_e"), col("label").as("desc_de"))
    val en = labels.filter(col("lang") === "en")
      .select(col("entity").as("en_e"), col("label").as("desc_en"))
    ents
      .join(de, col("node") === col("de_e"), "left_outer")
      .join(en, col("node") === col("en_e"), "left_outer")
      .select(col("node"), coalesce(col("desc_de"), col("desc_en"), col("node")).as("description"))
  }

  /** Salted two-phase aggregation over a skewed key (5 hot event types) —
    * identical result to a direct groupBy, shuffle spread over 16 salts. */
  def q54SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedSumCount(Tables.events(s, dir),
        col("event_type"), col("value"), col("event_id"), 16)
      .select(col("k").as("event_type"), round(col("total"), 2).as("total_value"),
        col("cnt").as("n"))

  /** Salted shuffle JOIN over a skewed key ([[graft.plans.Skew.saltedJoin]]):
    * orders⋈customer with the customer side replicated over 8 salts —
    * row-identical to the plain join (the oracle computes the plain form),
    * aggregated per segment to keep the checked output small. */
  def q73SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val joined = Skew.saltedJoin(
      Tables.orders(s, dir)
        .select(col("o_custkey").as("k"), col("o_orderkey"), col("o_totalprice")),
      Tables.customer(s, dir).select(col("c_custkey").as("k"), col("c_mktsegment")),
      "k", col("o_orderkey"), salts = 8)
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Explicit GROUPING SETS (beyond cube/rollup): per-priority totals,
    * per-status totals, and the grand total in one pass. */
  def q74GroupingSets(s: SparkSession, dir: String): DataFrame = {
    val (prio, status) = (col("o_orderpriority"), col("o_orderstatus"))
    Tables.orders(s, dir)
      .groupingSets(Seq(Seq(prio), Seq(status), Seq()), prio, status)
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Multimodal frame sampling ([[graft.multimodal.Multimodal.sampleFrames]]):
    * fixed-stride byte slices of the binary payload with per-frame size +
    * checksum — the frame-sample/chunking plumbing with a deterministic
    * stand-in for the decoder. */
  def q75FrameSample(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.sampleFrames(
      graft.multimodal.Multimodal.mediaFromEvents(s, dir),
      frameSize = 4, nFrames = 3)

  /** Stop-frame inventory — the pre-stage every FRAME-level video dedup
    * needs before generating candidate pairs: per sampled-frame checksum,
    * how many media contain it and how often. A frame shared by half the
    * corpus (intros, color bars, silence — here the shared JSON prefix)
    * would explode a same-hash pair join quadratically; classifying
    * frames by media-frequency first and joining only DISTINCTIVE ones
    * is the media twin of q135's LSH degree guard. One aggregation on
    * the frame hash (near-uniform key, map-side partials); the inventory
    * is vocabulary-sized, broadcastable back over the corpus. */
  def q155StopFrames(s: SparkSession, dir: String): DataFrame =
    q75FrameSample(s, dir)
      .groupBy(col("frame_md5"))
      .agg(countDistinct(col("media_id")).as("n_media"),
        count(lit(1)).as("n_occurrences"))
      .withColumn("is_stop", col("n_media") > 10)

  /** Scene-cut detection over the sampled frame stream — the shot-
    * boundary pass a video pipeline runs before frame-level dedup or
    * captioning: a cut falls wherever a frame's checksum differs from
    * its predecessor, static runs between cuts are scenes, and the
    * per-media report (scene count, longest static run) is what decides
    * sampling density downstream. The stub decode stands in for a real
    * codec exactly as in q75 — the Spark shape (media-partitioned
    * ordered window over the frame stream, then a scene-keyed regroup)
    * is the production plumbing. Windows partition by media_id, so the
    * pass is embarrassingly parallel; no corpus-wide ordering exists
    * anywhere. */
  def q213SceneCuts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = graft.multimodal.Multimodal.sampleFrames(
      graft.multimodal.Multimodal.mediaFromEvents(s, dir),
      frameSize = 4, nFrames = 8)
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_no"))
    val cuts = frames
      .withColumn("cut", when(lag(col("frame_md5"), 1).over(w).isNull ||
        col("frame_md5") =!= lag(col("frame_md5"), 1).over(w), 1L)
        .otherwise(0L))
      .withColumn("scene_id", sum(col("cut")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cuts.groupBy(col("media_id"), col("scene_id"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("media_id"))
      .agg(sum(col("run_len")).as("n_frames"),
        max(col("scene_id")).as("n_scenes"),
        max(col("run_len")).as("longest_scene"))
  }

  /** Media RESIZE / downsample audit — the remaining multimodal verb
    * next to decode (q75), frame-sample + scene cuts (q213), and aHash
    * near-dup (q202/q203): every document payload resizes to the 8×8
    * block-mean grid ([[graft.multimodal.Multimodal.resize8x8]] — a real
    * build swaps the char grid for the decoded pixel buffer at the same
    * offsets) and the audit reports the grid checksum (pinning the
    * resized BYTES, the q284 reproducible-artifact convention) plus
    * min/mean/max cell intensity. Embarrassingly parallel: 64 codegen
    * intrinsic lanes per row, one scan, no shuffle beyond the
    * final-report pass-through. */
  def q299MediaResize(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"),
        graft.multimodal.Multimodal.resize8x8(col("text")).as("grid"))
      .select(col("media_id"),
        md5(concat_ws(",", expr("transform(grid, x -> CAST(x AS STRING))")))
          .as("grid_md5"),
        expr("array_min(grid)").as("px_min"),
        // Σ cells div 64 — exact integer mean of the 64 block means
        expr("aggregate(grid, 0L, (a, x) -> a + x) div 64").as("px_mean"),
        expr("array_max(grid)").as("px_max"))

  /** Bucketed co-located join (§4.2 "triple-table physical layout"): both
    * sides written bucketBy(8, key) + sortBy, then joined WITHOUT a shuffle
    * exchange on either side — the layout-level answer for the recurring
    * big-big join at 100 TB, where re-shuffling the fact table per query is
    * the dominant cost. The write happens here only because the checked
    * query must be self-contained; a deployment buckets once at ingest. */
  def q76BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("bq_orders", "bq_customer").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      graft.util.Fs.deleteRecursively(new java.io.File(wh, t))
    }
    Tables.orders(s, dir).select(col("o_custkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("bq_orders")
    Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("bq_customer")
    s.table("bq_orders")
      .join(s.table("bq_customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Media near-dup via perceptual-hash banding — the image/audio
    * counterpart of q56's SimHash pipeline, over OPAQUE binary payloads:
    * every media row aHashes (8×8 stub-decoded grid, integer-exact mean
    * threshold — [[graft.multimodal.Multimodal.aHash]]), hashes dedup to
    * GROUPS first (identical payloads collapse before any pairing — the
    * corpus-side explosion guard: a million copies of one image are ONE
    * group row), and the near-dup search runs over DISTINCT hashes via
    * 16-bit band keys: pairs sharing any of the 4 bands verify at
    * Hamming ≤ 6 with the native codegen'd expression. Output carries
    * both group sizes, so the pair report prices the collapse a merge
    * would perform. */
  /** aHash groups over the events-derived media table: (ahash, n_media,
    * rep_media), materialized once — the full media scan behind it runs
    * exactly one time per caller. Shared by q202 and q203. */
  private[graft] def ahashGroups(s: SparkSession, dir: String): DataFrame = {
    // richer stub payload than the q45/q75 props-only table: the media
    // bytes concatenate the event's fields, so grids vary per row.
    // The hash stage is the native codegen AHash64 expression (one fused
    // loop per row), so no repartition is needed to spread interpreted
    // work — the scan's own splits carry it at memory-bandwidth speed.
    val media = Tables.events(s, dir)
      .select(col("event_id").as("media_id"),
        encode(concat_ws("|", col("event_type"), col("value"),
          col("props"), col("user_id")), "UTF-8").as("payload"))
    graft.multimodal.Multimodal.aHash(media)
      .groupBy(col("ahash"))
      .agg(count(lit(1)).as("n_media"), min(col("media_id")).as("rep_media"))
      .transform(Materialize.localCheckpoint(_))
  }

  /** Near-dup hash pairs over the DISTINCT-hash table: 16-bit band keys,
    * Hamming ≤ 6 verification (native codegen'd expression). */
  private def ahashPairs(groups: DataFrame): DataFrame = {
    val bands = groups.select(col("ahash"), col("n_media"),
      explode(expr("transform(sequence(0, 3), " +
        "j -> struct(j AS band, substring(ahash, j * 16 + 1, 16) AS key))"))
        .as("b"))
      .select(col("ahash"), col("n_media"),
        col("b.band").as("band"), col("b.key").as("key"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.ahash") < col("b.ahash"))
      .select(col("a.ahash").as("hash_a"), col("b.ahash").as("hash_b"),
        col("a.n_media").as("n_a"), col("b.n_media").as("n_b"))
      .distinct()
      .withColumn("dist",
        graft.functions.HammingDistance(col("hash_a"), col("hash_b"))
          .cast("long"))
      .filter(col("dist") <= 6)
  }

  def q202MediaAhash(s: SparkSession, dir: String): DataFrame =
    ahashPairs(ahashGroups(s, dir))
      .select(col("hash_a"), col("hash_b"), col("dist"),
        col("n_a"), col("n_b"))

  /** Media near-dup CLUSTERS — q110's component step on the aHash pair
    * graph: verified hash pairs feed the same distributed min-label
    * propagation ([[graft.plans.ConnectedComponents]], string labels),
    * isolated hashes label themselves, and each cluster reports how
    * many media rows a canonical-representative merge would collapse.
    * Everything after the one media scan runs on the distinct-hash
    * table — cluster work never touches the corpus again. */
  def q203MediaClusters(s: SparkSession, dir: String): DataFrame = {
    val groups = ahashGroups(s, dir)
    val pairs = ahashPairs(groups)
    graft.plans.ConnectedComponents.labels(
        pairs.select(col("hash_a").as("src"), col("hash_b").as("dst")),
        groups.select(col("ahash").as("node")),
        uniqueNodes = true) // groups is a groupBy(ahash) output — unique
      .join(groups, col("node") === col("ahash"))
      .groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_hashes"),
        sum(col("n_media")).as("n_media"),
        min(col("rep_media")).as("rep_media"))
  }

  /** REAL javax.imageio round-trip, oracled (the q202/q203/q299 family
    * rides the deterministic byte-tile stub because the DuckDB oracle
    * needs SQL-computable pixels — this query closes that gap): each
    * event mints a deterministic 8×8 RGB PNG whose 64 gray values are
    * the first md5 byte of "<media_id>:<cell>", ENCODES it with
    * ImageIO per partition (codec init once per task), then decodes it
    * back through [[graft.multimodal.Multimodal.decodeImage8x8]] — the
    * production decode path — and aHashes the decoded grid with the
    * shared bit rule. PNG is lossless and r=g=b makes the exact-integer
    * BT.601 luma equal the gray value, so the decoded grid EQUALS the
    * md5-derived pixels and the oracle recomputes the hash from the
    * same md5 algebra: javax.imageio encode→decode round-trips for
    * real under the hash gate. Embarrassingly parallel — one scan, two
    * mapPartitions, no shuffle; at 100 TB the decode cost is the
    * per-row codec work every media pipeline pays, nothing else. */
  def q321ImageioAhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The events table arrives as ONE parquet split at bench scale, and
    // the per-row work here is heavyweight interpreted codec code (md5
    // pixels + PNG encode + decode) — without a repartition the whole
    // corpus encodes in a single task (measured: the query ran serial).
    // Repartitioning the 8-byte id column is a negligible shuffle at any
    // scale and spreads the codec work over every core (the q34
    // repartition rationale; scale-adaptive via defaultParallelism).
    val ids = graft.Tables.events(s, dir)
      .select(col("event_id").as("media_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
    val media = ids.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val md = java.security.MessageDigest.getInstance("MD5")
      // per-TASK buffers (the codec-init discipline): every row
      // overwrites all 64 pixels and resets the byte sink, so reuse is
      // safe and drops two heap allocations per row off the hot loop.
      // The PNG ImageWriter is likewise fetched ONCE per task —
      // ImageIO.write re-scans the plugin registry and wraps a fresh
      // ImageOutputStream per call, a large constant factor at one call
      // per row (the reader-side twin lives in Multimodal.Image8x8Decoder).
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream(256)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("png").next()
      // md5 inputs "<id>:<i>" without per-pixel string formatting: the
      // "<id>:" prefix bytes build once per row, the 64 "<i>" suffixes
      // once per task — same digest bytes, no allocation in the loop
      val suffix = Array.tabulate(64)(i => i.toString.getBytes("UTF-8"))
      rows.map { id =>
        val prefix = s"$id:".getBytes("UTF-8")
        var i = 0
        while (i < 64) {
          md.reset()
          md.update(prefix)
          md.update(suffix(i))
          val p = md.digest()(0) & 0xff
          img.setRGB(i % 8, i / 8, (p << 16) | (p << 8) | p)
          i += 1
        }
        bos.reset()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(img)
        ios.flush()
        writer.setOutput(null)
        ios.close()
        (id, "png", bos.toByteArray)
      }
    }.toDF("media_id", "kind", "payload")
      .as[graft.multimodal.Multimodal.MediaRow]
    graft.multimodal.Multimodal.extractImageAHash(media)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_media_ahash"   -> q202MediaAhash _,
    "q321_imageio_ahash" -> q321ImageioAhash _,
    "q203_media_clusters" -> q203MediaClusters _,
    "q76_bucketed_join"  -> q76BucketedJoin _,
    "q52_career_render"  -> q52CareerRender _,
    "q53_double_optional" -> q53DoubleOptional _,
    "q54_salted_agg"     -> q54SaltedAgg _,
    "q73_salted_join"    -> q73SaltedJoin _,
    "q74_grouping_sets"  -> q74GroupingSets _,
    "q75_frame_sample"   -> q75FrameSample _,
    "q155_stop_frames"   -> q155StopFrames _,
    "q213_scene_cuts"    -> q213SceneCuts _,
    "q299_media_resize"  -> q299MediaResize _
  )

  /** aHash CTE chain shared by the q202/q203 oracles (must stay in
    * lockstep with [[ahashGroups]]/[[ahashPairs]]): `g` (distinct-hash
    * groups) through `pairs` (band-sharing candidates, unverified). */
  private val ahashCtesSql =
    """m0 AS (SELECT event_id AS media_id,
                event_type||'|'||value||'|'||props||'|'||user_id AS s
              FROM events),
       m AS (SELECT media_id,
               CASE WHEN length(s) = 0 THEN repeat('0', 128)
                    ELSE substr(repeat(hex(s), 64 // length(s) + 1), 1, 128)
               END AS hx FROM m0),
       px AS (SELECT media_id,
                list_transform(range(0, 64),
                  i -> CAST(('0x'||substr(hx, 2*i + 1, 2)) AS BIGINT)) AS pix
              FROM m),
       ah AS (SELECT media_id, pix, list_sum(pix) AS total FROM px),
       h AS (SELECT media_id,
               array_to_string(list_transform(pix,
                 p -> CASE WHEN p * 64 > total THEN '1' ELSE '0' END), '')
                 AS ahash
             FROM ah),
       g AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n_media,
               min(media_id) AS rep_media FROM h GROUP BY 1),
       bands AS (SELECT ahash, n_media, j AS band,
                   substr(ahash, j * 16 + 1, 16) AS key
                 FROM g, range(0, 4) r(j)),
       pairs AS (SELECT DISTINCT a.ahash AS hash_a, b.ahash AS hash_b,
                   a.n_media AS n_a, b.n_media AS n_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key
                  AND a.ahash < b.ahash)"""

  val oracles: Map[String, String] = Map(
    "q321_imageio_ahash" ->
      """WITH px AS (SELECT event_id AS media_id, i,
                CAST(('0x'||substr(md5(CAST(event_id AS VARCHAR)||':'||i),
                      1, 2)) AS BIGINT) AS p
              FROM events, range(0, 64) t(i)),
         t AS (SELECT media_id, list(p ORDER BY i) AS pix,
                 CAST(sum(p) AS BIGINT) AS total
               FROM px GROUP BY 1)
         SELECT media_id, 'png' AS kind,
                array_to_string(list_transform(pix,
                  p -> CASE WHEN p * 64 > total THEN '1' ELSE '0' END), '')
                  AS ahash
         FROM t""",
    "q202_media_ahash" ->
      s"""WITH $ahashCtesSql
         SELECT hash_a, hash_b,
                CAST(hamming(hash_a, hash_b) AS BIGINT) AS dist, n_a, n_b
         FROM pairs WHERE hamming(hash_a, hash_b) <= 6""",
    "q203_media_clusters" ->
      s"""WITH RECURSIVE $ahashCtesSql,
         vp AS (SELECT hash_a, hash_b FROM pairs
                WHERE hamming(hash_a, hash_b) <= 6),
         sym AS (SELECT hash_a AS src, hash_b AS dst FROM vp
                 UNION SELECT hash_b, hash_a FROM vp),
         reach(node, mm) AS (
           SELECT ahash, ahash FROM g
           UNION
           SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.mm),
         lab AS (SELECT node, min(mm) AS cluster FROM reach GROUP BY node)
         SELECT l.cluster, CAST(count(*) AS BIGINT) AS n_hashes,
                CAST(sum(g2.n_media) AS BIGINT) AS n_media,
                min(g2.rep_media) AS rep_media
         FROM lab l JOIN g g2 ON g2.ahash = l.node
         GROUP BY 1""",
    "q52_career_render" ->
      """WITH b AS (
           SELECT 'CAR'||md5(CAST(l_orderkey AS VARCHAR)||'|'||CAST(l_linenumber AS VARCHAR)||'|'||
                      CAST(l_partkey AS VARCHAR)||'|'||CAST(l_suppkey AS VARCHAR)) AS car,
                  'C'||CAST(o_custkey AS VARCHAR) AS person,
                  'S'||CAST(l_suppkey AS VARCHAR) AS inst,
                  'N'||CAST(s_nationkey AS VARCHAR) AS res,
                  strftime(l_shipdate, '%Y-%m-%d') AS day
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey)
         SELECT car AS s, 'type' AS p, 'Career' AS o FROM b
         UNION ALL SELECT car, 'participant_person', person FROM b
         UNION ALL SELECT car, 'participant_inst', inst FROM b
         UNION ALL SELECT car, 'label', 'career of '||person||' at '||inst FROM b
         UNION ALL SELECT car, 'begin', day||'T00:00:00' FROM b
         UNION ALL SELECT car, 'end', day||'T23:59:59' FROM b
         UNION ALL SELECT car, 'took_place_at', res FROM b""",
    "q53_double_optional" ->
      s"""WITH labels AS (${TripleStore.langLabelsSql}),
         ents AS (SELECT 'N'||CAST(n_nationkey AS VARCHAR) AS node FROM nation)
         SELECT node,
           coalesce(de.label, en.label, node) AS description
         FROM ents
         LEFT JOIN (SELECT entity, label FROM labels WHERE lang='de') de ON node = de.entity
         LEFT JOIN (SELECT entity, label FROM labels WHERE lang='en') en ON node = en.entity""",
    "q54_salted_agg" ->
      """SELECT event_type, round(sum(value),2) AS total_value, count(*) AS n
         FROM events GROUP BY 1""",
    "q76_bucketed_join" ->
      """SELECT c_nationkey, count(*) AS n, round(sum(o_totalprice),2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "q73_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice),2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "q74_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
                round(sum(o_totalprice), 2) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""",
    "q155_stop_frames" ->
      """WITH f AS (SELECT event_id AS media_id,
                    md5(substr(props, 1 + i*4, 4)) AS frame_md5
               FROM events, range(0, 3) t(i))
         SELECT frame_md5, CAST(count(DISTINCT media_id) AS BIGINT) AS n_media,
                count(*) AS n_occurrences,
                (count(DISTINCT media_id) > 10) AS is_stop
         FROM f GROUP BY 1""",
    "q75_frame_sample" ->
      """WITH f AS (SELECT event_id AS media_id, i AS frame_no,
                    substr(props, 1 + i*4, 4) AS frame
               FROM events, range(0, 3) t(i))
         SELECT media_id, frame_no,
                CAST(length(frame) AS BIGINT) AS frame_bytes,
                md5(frame) AS frame_md5
         FROM f""",
    "q213_scene_cuts" ->
      """WITH f AS (SELECT event_id AS media_id, i AS frame_no,
                    md5(substr(props, 1 + i*4, 4)) AS h
               FROM events, range(0, 8) t(i)),
         c AS (SELECT media_id, frame_no, h,
                 CASE WHEN lag(h) OVER w IS NULL OR h <> lag(h) OVER w
                   THEN 1 ELSE 0 END AS cut
               FROM f
               WINDOW w AS (PARTITION BY media_id ORDER BY frame_no)),
         sc AS (SELECT media_id, frame_no,
                  sum(cut) OVER (PARTITION BY media_id ORDER BY frame_no)
                    AS scene_id
                FROM c),
         runs AS (SELECT media_id, scene_id, count(*) AS run_len
                  FROM sc GROUP BY 1, 2)
         SELECT media_id, CAST(sum(run_len) AS BIGINT) AS n_frames,
                CAST(max(scene_id) AS BIGINT) AS n_scenes,
                CAST(max(run_len) AS BIGINT) AS longest_scene
         FROM runs GROUP BY 1""",
    "q299_media_resize" ->
      """WITH m AS (SELECT doc_id AS media_id,
                    rpad(substr(text, 1, 256), 256, ' ') AS g
               FROM documents),
         r AS (SELECT media_id,
                 list_transform(range(0, 64), b -> (
                     ord(substr(g, CAST(32*(b//8) + 2*(b%8) + 1 AS INTEGER), 1))
                   + ord(substr(g, CAST(32*(b//8) + 2*(b%8) + 2 AS INTEGER), 1))
                   + ord(substr(g, CAST(32*(b//8) + 2*(b%8) + 17 AS INTEGER), 1))
                   + ord(substr(g, CAST(32*(b//8) + 2*(b%8) + 18 AS INTEGER), 1))
                   ) // 4) AS grid
               FROM m)
         SELECT media_id,
                md5(array_to_string(list_transform(grid,
                  x -> CAST(x AS VARCHAR)), ',')) AS grid_md5,
                CAST(list_min(grid) AS BIGINT) AS px_min,
                CAST(list_sum(grid) // 64 AS BIGINT) AS px_mean,
                CAST(list_max(grid) AS BIGINT) AS px_max
         FROM r"""
  )
}
