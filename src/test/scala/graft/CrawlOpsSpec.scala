package graft

import org.apache.spark.sql.functions._
import graft.operators.CrawlOps

/** Crawl-hygiene block: URL canonicalization edge cases, robots
  * longest-prefix semantics (override / tie / no-rule / deny-all), and
  * the NfcNormalize codegen expression. */
class CrawlOpsSpec extends SparkSpec {

  private def canon(urls: String*): Map[String, String] = {
    val spark2 = spark
    import spark2.implicits._
    CrawlOps.canonicalized(urls.toDF("url"))
      .select(col("url"), col("canonical"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("URL canonicalization: case, default ports, fragments, query " +
      "order, empty path") {
    val out = canon(
      "HTTP://WWW.Example.COM:80/a/b?z=1&a=2#frag",
      "https://Example.com:443/x",
      "http://example.com:8080/x", // non-default port KEPT
      "https://example.com:80/x",  // 80 is not https's default — kept
      "http://Example.net",        // empty path -> "/"
      "http://example.com/x?b=2&a=1&a=0") // params sorted, dup params kept
    assert(out("HTTP://WWW.Example.COM:80/a/b?z=1&a=2#frag") ==
      "http://www.example.com/a/b?a=2&z=1")
    assert(out("https://Example.com:443/x") == "https://example.com/x")
    assert(out("http://example.com:8080/x") == "http://example.com:8080/x")
    assert(out("https://example.com:80/x") == "https://example.com:80/x")
    assert(out("http://Example.net") == "http://example.net/")
    assert(out("http://example.com/x?b=2&a=1&a=0") ==
      "http://example.com/x?a=0&a=1&b=2")
  }

  test("two raw spellings collapse to one canonical form") {
    val out = canon(
      "HTTP://Example.COM:80/p?b=2&a=1#x",
      "http://example.com/p?a=1&b=2")
    assert(out.values.toSet.size == 1)
  }

  test("robots longest-prefix: longer Allow overrides, equal-length tie " +
      "goes to allow, no rule means allowed, deny-all denies") {
    val spark2 = spark
    import spark2.implicits._
    // drive the full query path over a tiny documents dir? — unit-level
    // instead: replicate decision semantics through the public query on
    // the standard fixture is covered by the oracle; here pin the rule
    // interactions directly via the fixture arithmetic on known doc_ids.
    val dir = "/root/testdata/sf0.001"
    val out = CrawlOps.q223RobotsFilter(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3),
          Option(r.getString(4))))).toMap
    // doc 17: m4=1 -> example.com, path /p/17 — matches Disallow /p/1
    assert(out(17) == (("example.com", "/p/17", 0L, Some("/p/1"))))
    // doc 13: path /p/13 — longer Allow /p/13 overrides Disallow /p/1
    assert(out(13)._3 == 1L && out(13)._4 == Some("/p/13"))
    // doc 25: path /p/25 — equal-length allow/disallow tie -> allow
    assert(out(25)._3 == 1L && out(25)._4 == Some("/p/25"))
    // doc 3: m4=3 -> example.net, deny-all "/"
    assert(out(3) == (("example.net", "/p/3", 0L, Some("/"))))
    // doc 4: m4=0 -> www.example.com, Disallow /p/4
    assert(out(4) == (("www.example.com", "/p/4", 0L, Some("/p/4"))))
    // doc 6: m4=2 -> sub.example.org, no rules -> allowed, no match
    assert(out(6) == (("sub.example.org", "/p/6", 1L, None)))
  }

  test("NfcNormalize composes combining marks, passes NFC input through, " +
      "propagates null, and stays inside whole-stage codegen") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      Some("Cafe\u0301"),   // e + combining acute
      Some("nai\u0308ve"),  // i + combining diaeresis
      Some("already plain"),
      None
    ).toDF("s").repartition(2) // defeat LocalTableScan's eager local eval
      .select(graft.functions.NfcNormalize(col("s")).as("n"))
    val got = df.collect().map(r => Option(r.getString(0))).toSet
    assert(got == Set(Some("Caf\u00e9"), Some("na\u00efve"),
      Some("already plain"), None)) // repartition reorders rows
    // length contracts: composition shortens by one codepoint
    assert("Cafe\u0301".length == 5 &&
      got.flatten.find(_.startsWith("Caf")).get.length == 4)
    // the expression must not fall back to interpreted eval — under AQE
    // the codegen'd stage prints as a "*(n)" prefix on the operator
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") ||
      "\\*\\(\\d+\\) Project \\[nfc_normalize".r.findFirstIn(plan).isDefined,
      s"nfc_normalize fell out of codegen:\n$plan")
  }

  test("canonicalization is idempotent over generated URL shapes " +
      "(canon(canon(u)) == canon(u))") {
    val schemes = Seq("http", "HTTPS", "Http")
    val hosts = Seq("A.example.COM", "example.net", "x.Y.z")
    val ports = Seq("", ":80", ":443", ":8080")
    val paths = Seq("", "/", "/a", "/a/b.html")
    val qs = Seq("", "?b=2&a=1", "?k=v", "?z=1&y=2&x=3")
    val frags = Seq("", "#f")
    val urls = for {
      s <- schemes; h <- hosts; p <- ports; pa <- paths; q <- qs; f <- frags
    } yield s"$s://$h$p$pa$q$f"
    val first = canon(urls: _*)
    val second = canon(first.values.toSeq.distinct: _*)
    first.foreach { case (raw, c) =>
      assert(second(c) == c, s"not idempotent: $raw -> $c -> ${second(c)}")
    }
    assert(urls.size == 1152 && first.size == urls.size)
  }

  test("script audit counts each Unicode block and flags mixed docs") {
    val out = graft.operators.CrawlOps.q222ScriptAudit(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    // doc 1: odd, %3!=0, %5!=0 -> latin only, not mixed
    val d1 = out(1)
    assert(d1._2 == 0 && d1._3 == 0 && d1._4 == 0 && d1._6 == 0)
    // doc 30: %2=0 cyrillic, %3=0 greek, %5=0 cjk -> 4 scripts, mixed
    val d30 = out(30)
    assert(d30._2 == 6 && d30._3 == 5 && d30._4 == 2 && d30._5 == 4 &&
      d30._6 == 1)
  }
}
