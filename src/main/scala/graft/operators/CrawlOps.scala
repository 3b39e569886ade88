package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Crawl-hygiene operators — the URL/encoding layer between WARC ingest
  * (q215) / HTML extraction (q217) and the text board: URL
  * canonicalization + URL-level dedup, robots-style longest-prefix
  * allow/deny, Unicode NFC normalization (the [[graft.functions.NfcNormalize]]
  * codegen expression), and a per-script character audit. All four are
  * single-scan, shuffle-light plans: canonicalization and the audits are
  * chained codegen'd string functions (no UDFs, no HOF lambdas — the
  * aHash lesson), the robots join broadcasts a rule table that is tiny by
  * nature, and the only corpus-keyed shuffles are the canonical-URL
  * window (q220) and the per-doc argmax aggregation (q223).
  *
  * Fixture convention (the q217 precedent): the corpus tables carry no
  * URL column, so deterministic raw URLs / mixed-encoding strings are
  * synthesized per doc from doc_id arithmetic INSIDE the query on both
  * engines; the operators then parse everything back out of the one url
  * string — the fixture builds input, never answers.
  */
object CrawlOps {

  // ---------------------------------------------------------------- q220

  /** Parse + canonicalize the `url` column: drop the fragment, lowercase
    * scheme and host, strip default ports (http:80 / https:443), default
    * the empty path to "/", sort query parameters. Returns the frame with
    * scheme/host/path/canonical appended — shared by q220 and q223. */
  private[graft] def canonicalized(withUrl: DataFrame): DataFrame = {
    val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
    val hostport = regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)
    val host = lower(regexp_replace(hostport, ":[0-9]+$", ""))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val path0 = regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val q = regexp_extract(col("url"), "\\?([^#]*)", 1)
    withUrl
      .withColumn("scheme", scheme)
      .withColumn("host", host)
      .withColumn("path", when(path0 === "", lit("/")).otherwise(path0))
      .withColumn("portPart",
        when(port === "" ||
          (scheme === "http" && port === "80") ||
          (scheme === "https" && port === "443"), lit(""))
          .otherwise(concat(lit(":"), port)))
      .withColumn("qsPart",
        when(q === "", lit("")).otherwise(
          concat(lit("?"), array_join(sort_array(split(q, "&")), "&"))))
      .withColumn("canonical", concat(col("scheme"), lit("://"), col("host"),
        col("portPart"), col("path"), col("qsPart")))
      .drop("portPart", "qsPart")
  }

  /** Deterministic raw-URL fixture: mixed-case scheme/host, sometimes a
    * default or explicit port, unsorted query params, a fragment on every
    * 5th doc. Mirrored verbatim in the oracle SQL. */
  private def withFixtureUrl(docs: DataFrame): DataFrame = {
    val m2 = col("doc_id") % 2
    val m3 = col("doc_id") % 3
    val m4 = col("doc_id") % 4
    val m5 = col("doc_id") % 5
    docs.withColumn("url", concat(
      when(m2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      when(m4 === 0, lit("WWW.Example.COM"))
        .when(m4 === 1, lit("Example.com"))
        .when(m4 === 2, lit("sub.Example.ORG"))
        .otherwise(lit("Example.net")),
      when(m5 === 0, lit(":80"))
        .when(m5 === 1, lit(":443"))
        .when(m5 === 2, lit(":8080")).otherwise(lit("")),
      concat(lit("/p/"), (col("doc_id") % 50).cast("string")),
      when(m3 === 0, lit("?b=2&a=1"))
        .when(m3 === 1, lit("?a=1&b=2")).otherwise(lit("")),
      when(m5 === 0, lit("#sec")).otherwise(lit(""))))
  }

  /** URL canonicalization + URL-level dup detection (crawl-frontier
    * hygiene — the dedup key a fetch queue actually uses): canonicalize,
    * then count how many raw URLs collapse onto each canonical form.
    *
    * 100 TB posture: canonicalization is codegen'd string work inside the
    * scan; the only shuffle is the canonical-keyed window (hash-partition
    * on the dedup key — exactly the partitioning a frontier store wants). */
  def q220UrlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    canonicalized(withFixtureUrl(Tables.documents(s, dir)))
      .select(col("doc_id"), col("url"), col("canonical"), col("host"))
      .withColumn("n_same_canonical",
        count(lit(1)).over(Window.partitionBy(col("canonical"))))
  }

  // ---------------------------------------------------------------- q221

  /** NFC normalization audit over a mixed-encoding column: every 3rd doc
    * stays pure ASCII (already NFC — the fast path the expression's
    * isNormalized short-circuit serves), the rest carry combining marks
    * (e + U+0301, i + U+0308) that NFC composes to single codepoints. */
  def q221NfcNormalize(s: SparkSession, dir: String): DataFrame = {
    val m3 = col("doc_id") % 3
    val raw = when(m3 === 0, substring(col("text"), 1, 24))
      .when(m3 === 1,
        concat(substring(col("text"), 1, 12), lit("Cafe\u0301")))
      .otherwise(concat(substring(col("text"), 1, 8), lit("nai\u0308ve")))
    Tables.documents(s, dir)
      .withColumn("raw", raw)
      .withColumn("norm", graft.functions.NfcNormalize(col("raw")))
      .select(col("doc_id"), col("norm"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("norm")).cast("long").as("n_norm"),
        when(col("raw") === col("norm"), 0L).otherwise(1L).as("changed"))
  }

  // ---------------------------------------------------------------- q222

  /** Unicode-script character audit (language-mix / mojibake screening —
    * the per-script histogram quality filters threshold on): count Latin
    * / Cyrillic / Greek / CJK characters and flag mixed-script docs.
    * Chained regexp_count over the scan — shuffle-free. */
  def q222ScriptAudit(s: SparkSession, dir: String): DataFrame = {
    val synth = concat(substring(col("text"), 1, 16),
      when(col("doc_id") % 2 === 0,
        lit("данные")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        lit("λόγος")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("数据")).otherwise(lit("")))
    val counts = Seq(
      "n_latin" -> "[A-Za-z]",
      "n_cyrillic" -> "[Ѐ-ӿ]",
      "n_greek" -> "[Ͱ-Ͽ]",
      "n_cjk" -> "[一-鿿]")
    val base = Tables.documents(s, dir).withColumn("synth", synth)
    val withCounts = counts.foldLeft(base) { case (d, (name, re)) =>
      d.withColumn(name, regexp_count(col("synth"), lit(re)).cast("long"))
    }
    val nScripts = counts.map { case (name, _) =>
      when(col(name) > 0, 1L).otherwise(0L)
    }.reduce(_ + _)
    withCounts
      .withColumn("n_scripts", nScripts)
      .withColumn("mixed", when(col("n_scripts") >= 2, 1L).otherwise(0L))
      .select(col("doc_id"), col("n_latin"), col("n_cyrillic"),
        col("n_greek"), col("n_cjk"), col("n_scripts"), col("mixed"))
  }

  // ---------------------------------------------------------------- q223

  /** The robots rule table: (host, path prefix, allow). Tiny by nature
    * (one robots.txt per host) — always broadcast. Includes a longer
    * Allow overriding a Disallow ("/p/13" under "/p/1"), an equal-length
    * tie ("/p/25" both ways — least-restrictive wins, the Google rule),
    * and a deny-all host. (Paths are chosen to be REACHABLE under the
    * fixture arithmetic: host = doc_id%4, path = doc_id%50, and 50 ≡ 2
    * (mod 4) means example.com sees only odd paths, www only even.) */
  private def robotsRules(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("example.com", "/p/1", 0),
      ("example.com", "/p/13", 1),
      ("example.com", "/p/2", 0),
      ("example.com", "/p/25", 1),
      ("example.com", "/p/25", 0),
      ("www.example.com", "/p/4", 0),
      ("example.net", "/", 0)
    ).toDF("r_host", "prefix", "allow")
  }

  /** Robots-style longest-prefix allow/deny over canonicalized URLs: per
    * URL the longest matching rule prefix on its host decides; an
    * equal-length tie goes to allow; no matching rule means allowed.
    *
    * 100 TB posture: the rule table broadcasts; the longest-match is a
    * per-doc argmax AGGREGATION (max of a (len, allow, prefix) struct —
    * partial-agg map-side) rather than a window, so the only shuffle is
    * one keyed groupBy on doc_id, then a broadcast-sized left join back. */
  def q223RobotsFilter(s: SparkSession, dir: String): DataFrame = {
    val urls = canonicalized(withFixtureUrl(Tables.documents(s, dir)))
      .select(col("doc_id"), col("host"), col("path"))
    val cands = urls.join(broadcast(robotsRules(s)),
        col("host") === col("r_host") &&
          col("path").startsWith(col("prefix")))
      .groupBy(col("doc_id"))
      .agg(max(struct(length(col("prefix")).as("len"), col("allow"),
        col("prefix"))).as("best"))
      .select(col("doc_id"), col("best.allow").as("rule_allow"),
        col("best.prefix").as("matched_prefix"))
    urls.join(cands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"), col("path"),
        coalesce(col("rule_allow"), lit(1)).cast("long").as("allowed"),
        col("matched_prefix"))
  }

  // ------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q220_url_canonicalize" -> q220UrlCanonicalize _,
    "q221_nfc_normalize"    -> q221NfcNormalize _,
    "q222_script_audit"     -> q222ScriptAudit _,
    "q223_robots_filter"    -> q223RobotsFilter _
  )

  /** The oracle builds the SAME fixture url string, then canonicalizes
    * with DuckDB's string/list functions; combining marks enter via
    * chr() so no literal combining chars ride in the SQL text. */
  private val urlFixtureSql =
    """SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
         (CASE doc_id % 4 WHEN 0 THEN 'WWW.Example.COM'
                          WHEN 1 THEN 'Example.com'
                          WHEN 2 THEN 'sub.Example.ORG'
                          ELSE 'Example.net' END) ||
         (CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                          WHEN 2 THEN ':8080' ELSE '' END) ||
         '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
         (CASE doc_id % 3 WHEN 0 THEN '?b=2&a=1'
                          WHEN 1 THEN '?a=1&b=2' ELSE '' END) ||
         (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
       FROM documents"""

  private val canonicalSql =
    s"""WITH u AS ($urlFixtureSql),
       p AS (SELECT doc_id, url,
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
               regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
               regexp_extract(url, '\\?([^#]*)', 1) AS q
             FROM u),
       c AS (SELECT doc_id, url, scheme,
               lower(regexp_replace(hostport, ':[0-9]+$$', '')) AS host,
               regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
               CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path, q
             FROM p),
       k AS (SELECT doc_id, url, host, path,
               scheme || '://' || host ||
               (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443') THEN ''
                     ELSE ':' || port END) ||
               path ||
               (CASE WHEN q = '' THEN ''
                     ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&')
                END) AS canonical
             FROM c)"""

  val oracles: Map[String, String] = Map(
    "q220_url_canonicalize" ->
      s"""$canonicalSql
         SELECT doc_id, url, canonical, host,
                CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT)
                  AS n_same_canonical
         FROM k""",
    "q221_nfc_normalize" ->
      """WITH r AS (SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN left(text, 24)
               WHEN 1 THEN left(text, 12) || 'Cafe' || chr(769)
               ELSE left(text, 8) || 'nai' || chr(776) || 've'
             END AS raw
           FROM documents)
         SELECT doc_id, nfc_normalize(raw) AS norm,
                CAST(length(raw) AS BIGINT) AS n_raw,
                CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_norm,
                CASE WHEN raw = nfc_normalize(raw) THEN CAST(0 AS BIGINT)
                     ELSE CAST(1 AS BIGINT) END AS changed
         FROM r""",
    "q222_script_audit" ->
      """WITH s AS (SELECT doc_id, left(text, 16) ||
             (CASE WHEN doc_id % 2 = 0
                   THEN chr(1076)||chr(1072)||chr(1085)||chr(1085)||chr(1099)||chr(1077)
                   ELSE '' END) ||
             (CASE WHEN doc_id % 3 = 0
                   THEN chr(955)||chr(972)||chr(947)||chr(959)||chr(962)
                   ELSE '' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN chr(25968)||chr(25454)
                   ELSE '' END) AS synth
           FROM documents),
         c AS (SELECT doc_id,
             CAST(len(regexp_extract_all(synth, '[A-Za-z]')) AS BIGINT) AS n_latin,
             CAST(len(regexp_extract_all(synth, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
             CAST(len(regexp_extract_all(synth, '[\x{0370}-\x{03FF}]')) AS BIGINT) AS n_greek,
             CAST(len(regexp_extract_all(synth, '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS n_cjk
           FROM s)
         SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk,
                CAST((n_latin > 0)::INT + (n_cyrillic > 0)::INT +
                     (n_greek > 0)::INT + (n_cjk > 0)::INT AS BIGINT) AS n_scripts,
                CASE WHEN (n_latin > 0)::INT + (n_cyrillic > 0)::INT +
                          (n_greek > 0)::INT + (n_cjk > 0)::INT >= 2
                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS mixed
         FROM c""",
    "q223_robots_filter" ->
      s"""$canonicalSql,
         rules(r_host, prefix, allow) AS (VALUES
           ('example.com', '/p/1', 0), ('example.com', '/p/13', 1),
           ('example.com', '/p/2', 0), ('example.com', '/p/25', 1),
           ('example.com', '/p/25', 0), ('www.example.com', '/p/4', 0),
           ('example.net', '/', 0)),
         m AS (SELECT k.doc_id, r.allow AS rule_allow, r.prefix
               FROM k JOIN rules r ON k.host = r.r_host
                 AND starts_with(k.path, r.prefix)
               QUALIFY row_number() OVER (PARTITION BY k.doc_id
                 ORDER BY length(r.prefix) DESC, r.allow DESC,
                          r.prefix DESC) = 1)
         SELECT k.doc_id, k.host, k.path,
                CAST(coalesce(m.rule_allow, 1) AS BIGINT) AS allowed,
                m.prefix AS matched_prefix
         FROM k LEFT JOIN m ON k.doc_id = m.doc_id"""
  )
}
