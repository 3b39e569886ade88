package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.Tables
import graft.plans.{Closure, SparqlAlgebra, TripleStore}
import graft.util.Materialize

/** SPARQL-subset algebra over the derived triple store: BGP joins (J1),
  * label service (J7), property-path closure (J4/J5), inverse-property rule
  * (R1), provided-entity minting (R2), and the triple generators (G1/G2/G10).
  *
  * Reference citations are on each query; the triple/edge/label views and
  * their oracle-SQL twins live in [[graft.plans.TripleStore]].
  */
object RdfOps {

  /** J1: 5-pattern basic graph pattern — persons, their nation, restricted to
    * the EUROPE region (sparql/wikidata-city.sparql:6-12 shape). Each pattern
    * is a predicate-pruned scan; Catalyst broadcast-joins the tiny
    * region/label sides. */
  def q14BgpEurope(s: SparkSession, dir: String): DataFrame = {
    val t = TripleStore.triples(s, dir)
    val persons = SparqlAlgebra.patternConstO(t, "type", "Person", "c")
    val natOf   = SparqlAlgebra.pattern(t, "nation", "c", "n")
    val nameOf  = SparqlAlgebra.pattern(t, "label", "c", "name")
    val regOf   = SparqlAlgebra.pattern(t, "region", "n", "r")
    val europe  = SparqlAlgebra.patternConstO(t, "label", "EUROPE", "r")
    SparqlAlgebra.bgp(Seq(persons, natOf, nameOf, regOf, europe))
      .select(col("c"), col("name"), col("n"))
  }

  /** J7: label service — first-language-match label with entity-id fallback
    * (SERVICE wikibase:label "de,en", sparql/wikidata-person.sparql:22). */
  def q15LabelService(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val ents = n.select(concat(lit("N"), col("n_nationkey").cast("string")).as("node"))
    SparqlAlgebra.labelService(ents, TripleStore.langLabels(s, dir),
      "node", "label", Seq("de", "en"))
  }

  /** J4: reflexive-transitive closure (wdt:P279*) — every node in the
    * lineitem→order→customer→nation chain under the EUROPE region, the
    * region included (sparql/wikidata-city.sparql:6). Semi-naive fixpoint,
    * localCheckpoint per round ([[graft.plans.Closure]]). */
  def q16ClosureReach(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir)
    val seeds = r.filter(col("r_name") === "EUROPE")
      .select(concat(lit("R"), col("r_regionkey").cast("string")).as("node"))
    // The containment edges form a forest (every child has one parent), so
    // the frontier never revisits — skip the per-round dedup shuffle.
    Closure.reachingTo(TripleStore.edges(s, dir), seeds, functionalEdges = true)
  }

  /** J5: sequence + closure (wdt:P31/wdt:P279*) — ancestor pairs restricted
    * to region ancestors: (node, region) for orders/customers/nations. */
  def q17RegionAncestors(s: SparkSession, dir: String): DataFrame = {
    // Root-restricted ancestors: propagate the REGION label down the
    // forest instead of materializing every ancestor pair and filtering —
    // O(n) total frontier rows vs O(n·depth) ([[Closure.rootLabels]]).
    val roots = Tables.region(s, dir)
      .select(concat(lit("R"), col("r_regionkey").cast("string")).as("node"))
    Closure.rootLabels(TripleStore.edges(s, dir, withLineitems = false),
        roots, functionalEdges = true)
      .select(col("node"), col("root").as("region"))
  }

  /** R1: inverse-property materialization — for every (s, region, o) also
    * emit (o, has_nation, s) (get_data_apis_vanilla.py:1064-1065). */
  def q18InverseRule(s: SparkSession, dir: String): DataFrame = {
    val reg = TripleStore.triples(s, dir).filter(col("p") === "region")
    reg.select(col("s"), col("p"), col("o"))
      .unionByName(reg.select(col("o").as("s"), lit("has_nation").as("p"),
        col("s").as("o")))
  }

  /** R2: provided-entity minting — one deterministic URI per distinct target
    * (md5 stands in for STRUUID, SURVEY.md §7.3 "Nondeterminism"), fanned
    * back onto all entities sharing it
    * (create_provided_entities_graph_v2.sparql:10-27). */
  def q19ProvidedMint(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val minted = c.select(col("c_mktsegment").as("target")).distinct()
      .withColumn("provided", concat(lit("urn:prov:"), md5(concat(lit("pfp:"), col("target")))))
    c.select(concat(lit("C"), col("c_custkey").cast("string")).as("c"),
        col("c_mktsegment").as("target"))
      .join(broadcast(minted), "target")
      .select(col("c"), col("provided"))
  }

  /** G1: time-span generator — partial dates expand to label/type/begin/end
    * triples, precision-sensitive (get_data_apis_vanilla.py:32-112: year-only
    * "YYYY" → Jan-1/Dec-31 interval endpoints). */
  def q20TimespanGen(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val subj = concat(lit("O"), col("o_orderkey").cast("string"))
    val d = col("o_orderdate")
    val prec = pmod(col("o_orderkey"), lit(3))
    val dw = when(prec === 0, date_format(d, "yyyy"))
      .when(prec === 1, date_format(d, "yyyy-MM"))
      .otherwise(date_format(d, "yyyy-MM-dd"))
    val begin = when(prec === 0, concat(date_format(d, "yyyy"), lit("-01-01T00:00:00")))
      .when(prec === 1, concat(date_format(d, "yyyy-MM"), lit("-01T00:00:00")))
      .otherwise(concat(date_format(d, "yyyy-MM-dd"), lit("T00:00:00")))
    val end = when(prec === 0, concat(date_format(d, "yyyy"), lit("-12-31T23:59:59")))
      .when(prec === 1, concat(date_format(last_day(d), "yyyy-MM-dd"), lit("T23:59:59")))
      .otherwise(concat(date_format(d, "yyyy-MM-dd"), lit("T23:59:59")))
    o.select(subj.as("s"), explode(array(
        struct(lit("label").as("p"), dw.as("o")),
        struct(lit("type").as("p"), lit("E52_Time-Span").as("o")),
        struct(lit("begin").as("p"), begin.as("o")),
        struct(lit("end").as("p"), end.as("o")))).as("kv"))
      .select(col("s"), col("kv.p").as("p"), col("kv.o").as("o"))
  }

  /** G2 (shape): person render — fixed triples plus a conditional one, so the
    * per-row fan-out is variable (get_data_apis_vanilla.py:513-674). */
  def q21RenderPerson(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val subj = concat(lit("C"), col("c_custkey").cast("string"))
    val base = c.select(subj.as("s"), explode(array(
        struct(lit("type").as("p"), lit("E21_Person").as("o")),
        struct(lit("label").as("p"), col("c_name").as("o")),
        struct(lit("appellation").as("p"), concat(lit("App: "), col("c_name")).as("o")),
        struct(lit("nation").as("p"),
          concat(lit("N"), col("c_nationkey").cast("string")).as("o")))).as("kv"))
      .select(col("s"), col("kv.p").as("p"), col("kv.o").as("o"))
    val active = c.filter(col("c_acctbal") > 0)
      .select(subj.as("s"), lit("status").as("p"), lit("active").as("o"))
    base.unionByName(active)
  }

  /** G10: WKT space-primitive formatting with explicit sign
    * (get_data_apis_vanilla.py:883-889: "Point ( +lng +lat )"). */
  def q22WktPoints(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    def signed(c: org.apache.spark.sql.Column) =
      when(c >= 0, concat(lit("+"), c.cast("string"))).otherwise(c.cast("string"))
    val lng = col("s_nationkey") - 12
    val lat = col("s_suppkey") % 90
    sup.select(concat(lit("S"), col("s_suppkey").cast("string")).as("s"),
      lit("space_primitive").as("p"),
      concat(lit("Point ( "), signed(lng), lit(" "), signed(lat), lit(" )")).as("o"))
  }

  /** K3: N-Triples serialization through [[graft.sources.RdfIO.formatLine]]
    * — every triple becomes one wire-format line (distributed map; the
    * writer is a plain text sink over this). Literal objects, urn-wrapped
    * subjects/predicates, empty graph → N-Triples form. */
  def q79NquadFormat(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    TripleStore.triples(sp, dir)
      .select(col("s"), col("p"), col("o")).as[(String, String, String)]
      .map { case (s, p, o) =>
        graft.sources.RdfIO.formatLine(graft.model.Quad(
          "", s"urn:g/$s", s"urn:p/$p", o, oType = "literal"))
      }
      .toDF("line")
  }

  /** S10 full-grammar round-trip: lift the triple view into a typed quad
    * graph (labels → @de literals, everything else IRIs in the http://g/
    * namespace), serialize each subject block as prefix-compacted Turtle
    * with the writer's own formatter, parse it back with [[graft.sources.
    * TurtleParser]], and project the parsed terms. The DuckDB oracle is the
    * direct projection — a hash match proves format→parse is the identity
    * on real data (prefixed names, literals, lang tags included). One
    * shuffle (groupBy subject, the Turtle block unit); parse is a
    * per-document flatMap, exactly the harvest topology
    * (get_data_from_apis_instance.py:88-93). */
  def q82TurtleRoundtrip(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val prefixes = Map("g" -> "http://g/", "gp" -> "http://g/p/")
    val header = graft.sources.RdfIO.turtleHeader(prefixes)
    val quads = TripleStore.triples(sp, dir)
      .select(col("s"), col("p"), col("o")).as[(String, String, String)]
      .map { case (s, p, o) =>
        val isLit = p == "label" || p == "segment"
        graft.model.Quad("", "http://g/" + s, "http://g/p/" + p,
          if (isLit) o else "http://g/" + o,
          if (isLit) "literal" else "iri",
          if (p == "label") "de" else null, null)
      }
    val docs = quads.groupByKey(_.s)
      .mapGroups((subj, qs) => graft.sources.RdfIO.turtleBlock(subj, qs.toSeq, prefixes))
    docs.flatMap(doc => graft.sources.TurtleParser.parse(header + doc))
      .select(col("s"), col("p"), col("o"),
        col("oType").as("otype"), col("oLang").as("olang"))
  }

  /** SPARQL text front-end e2e (SURVEY §4.2): the query below goes through
    * [[graft.plans.SparqlText]] — tokenizer → AST → SparqlAlgebra — not a
    * hand-built plan, exercising UNION arms, a BGP join, the label service
    * with de>en priority and id fallback, an unbound projected variable,
    * and the $limit template parameter, over the same triple/label views
    * the oracle recomputes. */
  def q86SparqlParse(sp: SparkSession, dir: String): DataFrame = {
    val query =
      """SELECT (?n AS ?id) (?nLabel AS ?nlabel) ?r ?missing
        |WHERE {
        |  { ?n <region> <R1> } UNION { ?n <region> <R2> } .
        |  ?n <type> <Place> .
        |  ?n <region> ?r .
        |  SERVICE wikibase:label { bd:serviceParam wikibase:language "de,en" }
        |}
        |ORDER BY ?n
        |LIMIT $limit""".stripMargin
    graft.plans.SparqlText.run(query,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir),
      Map("limit" -> 8L))
  }

  /** §16.3 union with DISJOINT variable sets through the text front-end
    * (round 15 — previously a documented refusal: only the fidelity
    * companions were filled across arms and differing user variables
    * failed in ResolveUnion): arm 1 binds (?x ?nat) over suppliers,
    * arm 2 binds (?x ?seg) over customer segments — each arm's missing
    * variable is UNBOUND (null) in the other's rows, the SPARQL bag
    * union. The oracle recomputes both arms with explicit NULL columns.
    * Compiles to a unionByName of two column-pruned scans — no shuffle,
    * no join; the fill is a null literal per missing column. */
  def q316SparqlUnionDisjoint(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?x ?nat ?seg WHERE {
        |  { ?x <nation> ?nat . ?x <type> <Supplier> }
        |  UNION { ?x <segment> ?seg }
        |}""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** SPARQL property-path e2e: `?x <within>* <R1>` goes through the text
    * front-end — tokenizer → path AST → [[graft.plans.Closure.reachingTo]]
    * (seeded semi-naive, the J4 plan) — over the containment edge view
    * lifted to triples; the oracle recomputes the same fixpoint with a
    * DuckDB recursive CTE. Proves the parsed path and the closure operator
    * agree with an independent engine's recursion on real data. */
  def q87SparqlPathClosure(sp: SparkSession, dir: String): DataFrame = {
    val within = TripleStore.edges(sp, dir, withLineitems = false)
      .select(col("src").as("s"), lit("within").as("p"), col("dst").as("o"))
    graft.plans.SparqlText.run(
      "SELECT DISTINCT ?x WHERE { ?x <within>* <R1> }",
      within, TripleStore.langLabels(sp, dir))
  }

  /** SPARQL CONSTRUCT e2e (G11+R2 through the text front-end): the
    * provided-entity mint query shape
    * (create_provided_entities_graph_v2.sparql) — `[]` existential
    * subjects, a ';' predicate list, the OPTIONAL existing-proxy branch,
    * the URI(CONCAT(…, STRUUID())) mint compiled to the deterministic md5
    * surrogate, COALESCE, nested DISTINCT subselect, and a two-triple
    * CONSTRUCT template — over the triple view lifted into the pfp
    * namespace. The oracle recomputes the mint (md5 of the segment). */
  def q90SparqlConstruct(sp: SparkSession, dir: String): DataFrame = {
    val t = TripleStore.triples(sp, dir)
      .select(col("s"), concat(lit("http://pfp/"), col("p")).as("p"), col("o"))
    val text =
      """PREFIX pfp: <http://pfp/>
        |CONSTRUCT {
        |  ?c pfp:proxy_for ?pfp_uri .
        |  ?pfp_uri pfp:type pfp:provided_entity .
        |}
        |WHERE {
        |  {
        |    SELECT DISTINCT ?sa ?pfp_uri WHERE {
        |      [] pfp:segment ?sa .
        |      OPTIONAL { [] pfp:segment ?sa ; pfp:proxy_for ?uri_exist . }
        |      BIND (URI(CONCAT("urn:prov:", STRUUID())) AS ?uri_new)
        |      BIND (COALESCE(?uri_exist, ?uri_new) AS ?pfp_uri)
        |    }
        |  }
        |  ?c pfp:segment ?sa .
        |}""".stripMargin
    graft.plans.SparqlText.run(text, t, TripleStore.langLabels(sp, dir))
  }

  /** SPARQL FILTER connectives e2e: `&&`, `||`, `!`, parens, and a decimal
    * numeric literal through the text front-end — the first wall a user
    * editing the reference's own filters hits
    * (wikidata-person-backup.sparql:9-10 has two conjoined dateTime
    * FILTERs; merging them with `&&` or adding a numeric bound must work).
    * Orders lift to a date/total/status triple view; both OR branches
    * match rows by construction (statuses O/P/F all occur in the window). */
  def q91FilterConnectives(sp: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(sp, dir)
    val os = concat(lit("O"), o("o_orderkey").cast("string"))
    val t = o.select(os.as("s"), lit("date").as("p"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("o"))
      .unionByName(o.select(os.as("s"), lit("total").as("p"),
        o("o_totalprice").cast("string").as("o")))
      .unionByName(o.select(os.as("s"), lit("status").as("p"),
        o("o_orderstatus").as("o")))
    graft.plans.SparqlText.run(
      """SELECT ?x ?d ?st WHERE {
        |  ?x <date> ?d . ?x <total> ?t . ?x <status> ?st .
        |  FILTER(?d >= "1995-01-01" && ?d < "1995-03-01")
        |  FILTER(?t > 100000.5 || !(?st = "F"))
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Variable-predicate triple pattern e2e: `?x ?p2 ?o` joined to a
    * constant pattern — Blazegraph evaluates these for the reference today
    * (wikidata_index.py:152); the engine compiles them to an unfiltered
    * scan with the predicate bound as a column, narrowed by the join. */
  def q92VarPredicate(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      "SELECT ?x ?p2 ?o WHERE { ?x <type> <Supplier> . ?x ?p2 ?o . }",
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Mid-path stars e2e: `?x <nation>* / <region>* / <label> ?l` (stars on
    * two non-final steps) compiles through the general closure-then-chain
    * walk; the oracle recomputes both fixpoints with recursive CTEs and
    * the same leading-star domain choice (nodes of the first predicate's
    * edge relation). */
  def q93MidPathStar(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      "SELECT DISTINCT ?x ?l WHERE { ?x <nation>*/<region>*/<label> ?l }",
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** SPARQL builtin-function FILTERs + multi-key ORDER BY e2e: BOUND over
    * an OPTIONAL binding, CONTAINS on a lexical column, and
    * `ORDER BY DESC(?d) ?x LIMIT` — the next walls after connectives for
    * a user editing the reference's queries (its Blazegraph endpoint,
    * wikidata_index.py:152, accepts all of these). */
  def q94BoundContainsOrder(sp: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(sp, dir)
    val os = concat(lit("O"), o("o_orderkey").cast("string"))
    val t = o.select(os.as("s"), lit("date").as("p"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("o"))
      .unionByName(o.select(os.as("s"), lit("priority").as("p"),
        o("o_orderpriority").as("o")))
      .unionByName(o.filter(o("o_totalprice") > 150000.0)
        .select(os.as("s"), lit("big").as("p"), lit("1").as("o")))
    graft.plans.SparqlText.run(
      """SELECT ?x ?d ?pr WHERE {
        |  ?x <date> ?d . ?x <priority> ?pr .
        |  OPTIONAL { ?x <big> ?b }
        |  FILTER(BOUND(?b))
        |  FILTER(CONTAINS(STR(?pr), "URGENT"))
        |}
        |ORDER BY DESC(?d) ?x
        |LIMIT 100""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** SPARQL negation e2e: `FILTER NOT EXISTS` compiles to the same
    * left-anti join as the hand-built J8 worklist (q4's "persons without a
    * pending order" shape); MINUS with a shared variable is its twin. The
    * oracle is the relational NOT EXISTS. */
  def q95NotExists(sp: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(sp, dir)
    val o = Tables.orders(sp, dir)
    val t = c.select(concat(lit("C"), c("c_custkey").cast("string")).as("s"),
        lit("type").as("p"), lit("Person").as("o"))
      .unionByName(o.filter(o("o_orderstatus") === "P")
        .select(concat(lit("O"), o("o_orderkey").cast("string")).as("s"),
          lit("customer").as("p"),
          concat(lit("C"), o("o_custkey").cast("string")).as("o")))
    graft.plans.SparqlText.run(
      """SELECT ?c WHERE {
        |  ?c <type> <Person> .
        |  FILTER NOT EXISTS { ?ord <customer> ?c }
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** P11 through the parser: the reference derives its paging-count query
    * TEXTUALLY from each .sparql file (`SELECT (COUNT(DISTINCT ?item) AS
    * ?count) WHERE { <inner group> }`, wikidata_index.py:173-179). With
    * aggregate projections in the front-end, that derived text runs
    * directly — plus per-group COUNT/MIN/MAX over the same view. */
  def q96AggProjections(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?seg (COUNT(DISTINCT ?c) AS ?n) (MIN(?lab) AS ?lo) (MAX(?lab) AS ?hi)
        |WHERE {
        |  ?c <segment> ?seg .
        |  ?c <label> ?lab .
        |}
        |GROUP BY ?seg""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Inverse + alternation property paths e2e: `(<nation>|^<region>)/
    * <label>` — customers/suppliers step to their nation via `nation`,
    * regions step DOWN to their nations via the inverse of `region`, and
    * both take the nation's label. The oracle recomputes the union-of-
    * directions walk relationally. */
  def q97InversePath(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      "SELECT DISTINCT ?x ?y WHERE { ?x (<nation>|^<region>)/<label> ?y }",
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** General BIND expressions e2e: `CONCAT` key building and an
    * `IF(cond, …)` tier derivation — the everyday BIND forms beyond the
    * reference's COALESCE/STRUUID uses. The oracle recomputes the
    * concatenation and the CASE split relationally. */
  def q98BindExpressions(sp: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(sp, dir)
    val cs = concat(lit("C"), c("c_custkey").cast("string"))
    val t = c.select(cs.as("s"), lit("segment").as("p"), c("c_mktsegment").as("o"))
      .unionByName(c.select(cs.as("s"), lit("nation").as("p"),
        concat(lit("N"), c("c_nationkey").cast("string")).as("o")))
      .unionByName(c.select(cs.as("s"), lit("bal").as("p"),
        c("c_acctbal").cast("string").as("o")))
    graft.plans.SparqlText.run(
      """SELECT ?c ?key ?tier WHERE {
        |  ?c <segment> ?seg . ?c <nation> ?n . ?c <bal> ?b .
        |  BIND(CONCAT(?seg, "/", ?n) AS ?key)
        |  BIND(IF(?b > 5000.0, "high", "low") AS ?tier)
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** HAVING e2e: post-grouping filter on an aggregate that is NOT
    * projected (MIN over the group), alongside projected COUNT/MIN —
    * regions keep or drop by their lexicographically-first nation label
    * (labels are NATION_k; the threshold splits 3 regions in, 2 out).
    * Nation/region are fixed tables, so the split is scale-invariant
    * (3 of 5 regions pass at every SF). */
  def q99Having(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?r (COUNT(?n) AS ?n_nations) (MIN(?lab) AS ?first)
        |WHERE {
        |  ?n <region> ?r .
        |  ?n <label> ?lab .
        |}
        |GROUP BY ?r
        |HAVING(MIN(?lab) < "NATION_13")""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Orders lifted to a (date, total, status, priority) triple view — the
    * fixture q91/q94 use, shared by the round-5 expression queries. */
  private def orderTriples(sp: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(sp, dir)
    val os = concat(lit("O"), o("o_orderkey").cast("string"))
    o.select(os.as("s"), lit("date").as("p"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("o"))
      .unionByName(o.select(os.as("s"), lit("total").as("p"),
        o("o_totalprice").cast("string").as("o")))
      .unionByName(o.select(os.as("s"), lit("status").as("p"),
        o("o_orderstatus").as("o")))
      .unionByName(o.select(os.as("s"), lit("priority").as("p"),
        o("o_orderpriority").as("o")))
  }

  /** Arithmetic through the unified expression grammar: a computed FILTER
    * bound, an `(expr AS ?v)` projection, and `ORDER BY DESC(expr)` — the
    * everyday derived-measure shape no reference file uses but any edited
    * query hits immediately. Both sides compute the same IEEE double ops
    * (`* 2.0`, `- 10.0` are exact), so hashes agree bit-for-bit. */
  def q100ArithmeticExpr(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?x (?t * 2.0 - 10.0 AS ?adj) WHERE {
        |  ?x <total> ?t . ?x <status> "F" .
        |  FILTER(?t * 2.0 > 500000.0)
        |}
        |ORDER BY DESC(?adj) ?x
        |LIMIT 50""".stripMargin,
      orderTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** String builtins end-to-end: STRLEN/REGEX("i") filters with
    * SUBSTR/UCASE/STRBEFORE projections over the order-priority lexicon
    * ('1-URGENT' … '5-LOW'); the oracle recomputes each builtin with the
    * matching DuckDB function. */
  def q101StringFns(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?x (UCASE(SUBSTR(?pr, 3)) AS ?u) (STRBEFORE(?pr, "-") AS ?pre)
        |WHERE {
        |  ?x <priority> ?pr .
        |  FILTER(STRLEN(?pr) >= 8 && REGEX(?pr, "urgent|medium", "i"))
        |}""".stripMargin,
      orderTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** `SELECT *` + `[NOT] IN` + date accessors: every named variable
    * projects without an explicit list, membership prunes to two statuses,
    * and YEAR/DAY run over the ISO-string date column. */
  def q102SelectStarIn(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT * WHERE {
        |  ?x <status> ?st . ?x <date> ?d .
        |  FILTER(?st IN ("P", "F") && YEAR(?d) = 1996 && DAY(?d) <= 5)
        |}""".stripMargin,
      orderTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** GROUP_CONCAT with an explicit separator plus aggregates over computed
    * expressions (`SUM(?b * 0.5)`) — the measure-derivation shape — and a
    * COUNT alongside, grouped per nation over the customer triple view. */
  def q103AggExpr(sp: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(sp, dir)
    val cs = concat(lit("C"), c("c_custkey").cast("string"))
    val t = c.select(cs.as("s"), lit("segment").as("p"), c("c_mktsegment").as("o"))
      .unionByName(c.select(cs.as("s"), lit("nation").as("p"),
        concat(lit("N"), c("c_nationkey").cast("string")).as("o")))
      .unionByName(c.select(cs.as("s"), lit("bal").as("p"),
        c("c_acctbal").cast("string").as("o")))
    graft.plans.SparqlText.run(
      """SELECT ?n (GROUP_CONCAT(DISTINCT ?seg ; separator="|") AS ?segs)
        |       (SUM(?b * 0.5) AS ?half) (COUNT(?c) AS ?cnt)
        |WHERE { ?c <nation> ?n . ?c <segment> ?seg . ?c <bal> ?b . }
        |GROUP BY ?n""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Numeric builtins: ROUND/FLOOR projections with a CEIL/ABS filter
    * band — all uniformly double on both sides (the engine's one-numeric-
    * type rule), so the oracle CASTs to DOUBLE where DuckDB would return
    * integers. */
  def q104NumericFns(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?x (ROUND(?t / 1000.0) AS ?kilo) (FLOOR(?t / 10000.0) AS ?bucket)
        |WHERE {
        |  ?x <total> ?t .
        |  FILTER(ABS(?t - 150000.0) <= 20000.0 && CEIL(?t / 10000.0) >= 14.0)
        |}""".stripMargin,
      orderTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** ASK through the text front-end: existence of a pending order above a
    * numeric bound — compiles to limit(1)+count, so the scan short-circuits
    * after the first matching row instead of materializing the set. */
  def q105Ask(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """ASK WHERE { ?x <status> "P" . ?x <total> ?t . FILTER(?t > 300000.0) }""",
      orderTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Multi-variable VALUES: an inline (segment → tier) mapping table
    * broadcast-joined against the customer segment triples — the lookup-
    * enrichment shape (SPARQL §10.2 inline data). */
  def q106ValuesTable(sp: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(sp, dir)
    val t = c.select(concat(lit("C"), c("c_custkey").cast("string")).as("s"),
      lit("segment").as("p"), c("c_mktsegment").as("o"))
    graft.plans.SparqlText.run(
      """SELECT ?c ?seg ?tier WHERE {
        |  ?c <segment> ?seg .
        |  VALUES (?seg ?tier) {
        |    ("BUILDING" "b2b") ("MACHINERY" "b2b") ("AUTOMOBILE" "consumer")
        |  }
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Time accessors HOURS/MINUTES/SECONDS/TZ (§17.4.5) over Z-suffixed
    * xsd:dateTime lexical forms minted from the events stream — both a
    * projection and a FILTER position. The engine extracts components
    * LEXICALLY (a zoned literal keeps its written hour; to_timestamp
    * would renormalize it into the session zone), which is also what
    * makes the DuckDB oracle trivially alignable: the same regex pulls on
    * the same strings. */
  def q148DatetimeFns(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).filter(col("event_id") < 2000)
    val es = concat(lit("E"), col("event_id").cast("string"))
    val t = e.select(es.as("s"), lit("at").as("p"),
        concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z")).as("o"))
      .unionByName(e.select(es.as("s"), lit("kind").as("p"),
        col("event_type").as("o")))
    graft.plans.SparqlText.run(
      """SELECT ?x ?d (HOURS(?d) AS ?h) (MINUTES(?d) AS ?m)
        |       (SECONDS(?d) AS ?sec) (TZ(?d) AS ?tz)
        |WHERE {
        |  ?x <at> ?d . ?x <kind> "click" .
        |  FILTER(HOURS(?d) >= 12 && MINUTES(?d) < 30)
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** TIMEZONE() e2e (§17.4.5.7, the last §17.4 builtin family): the
    * zone of an xsd:dateTime binds as an xsd:dayTimeDuration TYPED
    * literal (value in the variable, type in its __dt companion) —
    * events carry one of four zones by id, covering Z, positive and
    * negative offsets, and the zone-less raise→unbound case; DATATYPE
    * reads the companion back (xsd:string default on the unbound row). */
  def q210Timezone(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).filter(col("event_id") < 2000)
    val zone = element_at(
      array(lit("Z"), lit("+05:30"), lit("-08:00"), lit("")),
      (col("event_id") % 4 + 1).cast("int"))
    val t = e.select(concat(lit("E"), col("event_id").cast("string")).as("s"),
      lit("when").as("p"),
      concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), zone).as("o"))
    graft.plans.SparqlText.run(
      """SELECT ?x ?z ?dt WHERE {
        |  ?x <when> ?d .
        |  BIND(TIMEZONE(?d) AS ?z)
        |  BIND(DATATYPE(?z) AS ?dt)
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Duration-VALUE comparison (§17.4.5.7 × §17.3 — the last §17.4
    * type-system refusal closed): TIMEZONE's xsd:dayTimeDuration results
    * compare through the seconds carrier, not lexically — the
    * `< "PT10H"` gate is the discriminator (lexically "PT5H30M" >
    * "PT10H" and the +05:30 rows would vanish), and the IF classifies
    * mixed-sign zones against "PT0S". Zone-less rows error→unbound in
    * the FILTER and drop, per §17.2. Same scan shape as q210. */
  def q294DurationCompare(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).filter(col("event_id") < 2000)
    val zone = element_at(
      array(lit("Z"), lit("+05:30"), lit("-08:00"), lit("")),
      (col("event_id") % 4 + 1).cast("int"))
    val t = e.select(concat(lit("E"), col("event_id").cast("string")).as("s"),
      lit("when").as("p"),
      concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), zone).as("o"))
    graft.plans.SparqlText.run(
      """SELECT ?x ?z ?cls WHERE {
        |  ?x <when> ?d .
        |  BIND(TIMEZONE(?d) AS ?z)
        |  FILTER(TIMEZONE(?d) < "PT10H"^^xsd:dayTimeDuration)
        |  BIND(IF(TIMEZONE(?d) > "PT0S"^^xsd:dayTimeDuration,
        |          "east", "nonpositive") AS ?cls)
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Duration ARITHMETIC (§17 operator maps, the family q294's
    * comparisons left open): duration+duration re-renders through the
    * seconds carrier (PT5H30M + PT1H30M = PT7H — lexical concatenation
    * has no such algebra), dateTime+duration shifts the clock face and
    * preserves the zone suffix, and the yearMonthDuration rung does
    * months arithmetic (P1Y + P11M = P1Y11M). A data-bound variable
    * re-enters the duration rung via the xsd:dayTimeDuration constructor
    * (BIND strips static types — the same §17.5 re-entry xsd:integer
    * provides for the numeric rungs). Zone-less rows error→unbound in
    * the duration FILTER and drop, per §17.2. Same scan shape as
    * q210/q294. */
  def q277DurationArith(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).filter(col("event_id") < 2000)
    val zone = element_at(
      array(lit("Z"), lit("+05:30"), lit("-08:00"), lit("")),
      (col("event_id") % 4 + 1).cast("int"))
    val t = e.select(concat(lit("E"), col("event_id").cast("string")).as("s"),
      lit("when").as("p"),
      concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), zone).as("o"))
    graft.plans.SparqlText.run(
      """SELECT ?x ?zsum ?later ?ym WHERE {
        |  ?x <when> ?d .
        |  BIND(TIMEZONE(?d) AS ?z)
        |  BIND(xsd:dayTimeDuration(?z) + "PT1H30M"^^xsd:dayTimeDuration
        |       AS ?zsum)
        |  BIND(?d + "P1DT2H"^^xsd:dayTimeDuration AS ?later)
        |  BIND("P1Y"^^xsd:yearMonthDuration + "P11M"^^xsd:yearMonthDuration
        |       AS ?ym)
        |  FILTER(xsd:dayTimeDuration(?z) - "PT9H"^^xsd:dayTimeDuration
        |         < "PT0S"^^xsd:dayTimeDuration)
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Duration MULTIPLY/DIVIDE (op:multiply/divide-dayTimeDuration and
    * op:divide-dayTimeDuration-by-dayTimeDuration from the XPath §17
    * operator map — the family q277 left open): on the round-14 numeric
    * value carrier these are plain double arithmetic on seconds/months,
    * with the canonical lexical rendered once per BIND. The
    * duration÷duration ratio lands on the decimal (double) rung. The
    * zone-less rows keep their solutions with UNBOUND results (BIND
    * error→unbound does not drop rows — unlike q277's FILTER), so null
    * propagation through the carrier is part of the oracle. */
  def q303DurationMulDiv(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).filter(col("event_id") < 2000)
    val zone = element_at(
      array(lit("Z"), lit("+05:30"), lit("-08:00"), lit("")),
      (col("event_id") % 4 + 1).cast("int"))
    val t = e.select(concat(lit("E"), col("event_id").cast("string")).as("s"),
      lit("when").as("p"),
      concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), zone).as("o"))
    graft.plans.SparqlText.run(
      """SELECT ?x ?tri ?half ?ratio ?ymq WHERE {
        |  ?x <when> ?d .
        |  BIND(TIMEZONE(?d) AS ?z)
        |  BIND(xsd:dayTimeDuration(?z) * 3 AS ?tri)
        |  BIND(xsd:dayTimeDuration(?z) / 2 AS ?half)
        |  BIND(xsd:dayTimeDuration(?z) / "PT1H"^^xsd:dayTimeDuration
        |       AS ?ratio)
        |  BIND("P2Y6M"^^xsd:yearMonthDuration * 2 AS ?ymq)
        |}""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Duration AGGREGATES (§18.5 set functions closed under the duration
    * types — SUM is op:add-dayTimeDurations folded over the group, AVG
    * its mean): zones classify into sign groups via the §17.4 duration
    * comparison and each group aggregates TIMEZONE's dayTimeDuration
    * values on the numeric carrier, rendering the canonical lexical once
    * per emitted aggregate. Zone-less rows carry an UNBOUND ?z (the §17.2
    * error→unbound) — they group under the unbound key with COUNT 0 and
    * NULL duration aggregates, per §18.5's definition (errors are
    * dropped from the multiset a set function sees). Single scan, one
    * aggregation shuffle over a |sign-classes|-bounded output. */
  def q304DurationAgg(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).filter(col("event_id") < 2000)
    val zone = element_at(
      array(lit("Z"), lit("+05:30"), lit("-08:00"), lit("")),
      (col("event_id") % 4 + 1).cast("int"))
    val t = e.select(concat(lit("E"), col("event_id").cast("string")).as("s"),
      lit("when").as("p"),
      concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), zone).as("o"))
    graft.plans.SparqlText.run(
      """SELECT ?cls (COUNT(?z) AS ?n)
        |       (SUM(xsd:dayTimeDuration(?z)) AS ?tot)
        |       (AVG(xsd:dayTimeDuration(?z)) AS ?mean)
        |       (MIN(xsd:dayTimeDuration(?z)) AS ?lo)
        |       (MAX(xsd:dayTimeDuration(?z)) AS ?hi)
        |WHERE {
        |  ?x <when> ?d .
        |  BIND(TIMEZONE(?d) AS ?z)
        |  BIND(IF(TIMEZONE(?d) > "PT0S"^^xsd:dayTimeDuration,
        |          "east", "nonpositive") AS ?cls)
        |}
        |GROUP BY ?cls""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Duration ORDER BY — §15.1 via op:duration ordering: a duration-typed
    * sort key orders by VALUE through the numeric-carrier companion, not
    * lexically (lexical puts "PT10H" before "PT2H"); the LIMIT straddles
    * the PT2H/PT10H boundary at every test SF, so a lexical fallback
    * changes the selected row SET, not just its order (the hash compare
    * is order-insensitive). Zone-less rows drop via BOUND. Plan:
    * TakeOrderedAndProject — no global sort survives the limit. */
  def q308DurationOrderby(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).filter(col("event_id") < 2000)
    val zone = element_at(
      array(lit("Z"), lit("+10:00"), lit("+02:00"), lit("")),
      (col("event_id") % 4 + 1).cast("int"))
    val t = e.select(concat(lit("E"), col("event_id").cast("string")).as("s"),
      lit("when").as("p"),
      concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), zone).as("o"))
    graft.plans.SparqlText.run(
      """SELECT ?x ?z WHERE {
        |  ?x <when> ?d .
        |  BIND(TIMEZONE(?d) AS ?z)
        |  FILTER(BOUND(?z))
        |}
        |ORDER BY ?z ?x
        |LIMIT 600""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Direct-VARIABLE duration aggregates — the §18.5 set functions over a
    * duration-typed variable itself (SUM(?z), not SUM(xsd:…(?z))): the
    * PAgg path reads the numeric-carrier companion a duration BIND
    * stores, so MIN/MAX extremize by VALUE (the +10:00/+02:00 pair makes
    * a lexical MIN visibly wrong: "PT10H" < "PT2H" lexically) and
    * SUM/AVG have an actual algebra. Same grouping/unbound semantics as
    * q304. */
  def q309DurationVarAgg(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).filter(col("event_id") < 2000)
    val zone = element_at(
      array(lit("Z"), lit("+10:00"), lit("+02:00"), lit("")),
      (col("event_id") % 4 + 1).cast("int"))
    val t = e.select(concat(lit("E"), col("event_id").cast("string")).as("s"),
      lit("when").as("p"),
      concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), zone).as("o"))
    graft.plans.SparqlText.run(
      """SELECT ?cls (COUNT(?z) AS ?n) (SUM(?z) AS ?tot) (AVG(?z) AS ?mean)
        |       (MIN(?z) AS ?lo) (MAX(?z) AS ?hi)
        |WHERE {
        |  ?x <when> ?d .
        |  BIND(TIMEZONE(?d) AS ?z)
        |  BIND(IF(TIMEZONE(?d) > "PT0S"^^xsd:dayTimeDuration,
        |          "east", "nonpositive") AS ?cls)
        |}
        |GROUP BY ?cls""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** Negated property set `!(p1|p2)` (§9.1): everything EXCEPT the listed
    * predicates — one complement-filtered scan, not a union of the other
    * arms — for orders placed on the epoch date. */
  def q107NegatedPath(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?x ?o WHERE {
        |  ?x <date> "1995-01-01" .
        |  ?x !(<date>|<total>) ?o .
        |}""".stripMargin,
      orderTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** DESCRIBE through the text front-end: the node set bound by the WHERE
    * group (nations of region R1) semi-joins the triple scan — all facts
    * about each described node, no join-output blowup (§16.4; forward
    * description, no bnode recursion in the engine's triple model). */
  def q108Describe(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      "DESCRIBE ?n WHERE { ?n <region> <R1> }",
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** HAVING over the unified expression grammar: an ARITHMETIC predicate
    * over two aggregates (`SUM(?b) / COUNT(?c)` — the average-balance
    * gate), neither of which needs to be projected. The 4400.0 threshold
    * splits segments at every SF with ≥5-unit margins, far beyond
    * parallel-vs-serial float-summation noise. */
  def q109HavingExpr(sp: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(sp, dir)
    val cs = concat(lit("C"), c("c_custkey").cast("string"))
    val t = c.select(cs.as("s"), lit("segment").as("p"), c("c_mktsegment").as("o"))
      .unionByName(c.select(cs.as("s"), lit("bal").as("p"),
        c("c_acctbal").cast("string").as("o")))
    graft.plans.SparqlText.run(
      """SELECT ?seg (COUNT(?c) AS ?n) WHERE {
        |  ?c <segment> ?seg . ?c <bal> ?b .
        |}
        |GROUP BY ?seg
        |HAVING(SUM(?b) / COUNT(?c) > 4400.0)""".stripMargin,
      t, TripleStore.langLabels(sp, dir))
  }

  /** GROUP BY expression keys (§19.8 GroupCondition): month-bucketed order
    * counts via `GROUP BY (MONTH(?d) AS ?m)` — the date-rollup shape every
    * reporting query needs; the key expression computes pre-shuffle so the
    * aggregation still gets map-side partial combine. */
  def q115GroupByExpr(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?m (COUNT(?x) AS ?n) WHERE {
        |  ?x <date> ?d . ?x <status> "F" .
        |}
        |GROUP BY (MONTH(?d) AS ?m)""".stripMargin,
      orderTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Named-graph variable e2e (§13.3): `GRAPH ?g { … }` over the quad view
    * — both contained patterns bind ?g from the quad's `g` column, so the
    * BGP join inside the block is on (?s, ?g): same subject AND same graph,
    * and ?g escapes as a projected variable. The oracle recomputes the
    * self-join with the graph-equality conjunct. */
  def q117GraphVar(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?g ?s ?seg WHERE {
        |  GRAPH ?g { ?s <segment> ?seg . ?s <nation> <N1> }
        |}""".stripMargin,
      TripleStore.quads(sp, dir), TripleStore.langLabels(sp, dir))

  /** Constant named graph + default-graph join: the GRAPH block filters its
    * scans to `g:N`; the outer pattern runs over the union of all graphs
    * (the union-default-graph dataset posture — what Blazegraph and
    * Oxigraph expose when no FROM is given). The constant reaches the scan
    * as an ordinary pushed filter, so a `g`-partitioned quad table prunes. */
  def q118GraphConst(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?s ?l WHERE {
        |  GRAPH <g:N> { ?s <label> ?l }
        |  ?s <region> <R1> .
        |}""".stripMargin,
      TripleStore.quads(sp, dir), TripleStore.langLabels(sp, dir))

  /** FROM NAMED dataset clause e2e: GRAPH ?g ranges over exactly the two
    * declared graphs, excluding the customer/supplier graphs whose
    * subjects also carry `label` triples — the clause, not the pattern,
    * does the narrowing. Compiles to an isin filter on `g` at the scan. */
  def q119FromNamed(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?g ?x ?l
        |FROM NAMED <g:N>
        |FROM NAMED <g:R>
        |WHERE { GRAPH ?g { ?x <label> ?l } }""".stripMargin,
      TripleStore.quads(sp, dir), TripleStore.langLabels(sp, dir))

  /** FROM dataset clause e2e: the default graph is restricted to the
    * customer graph, so the `nation` edge pattern excludes the supplier
    * graph's edges that would otherwise match (§13.2's explicit default
    * graph — load-bearing here, not decorative). */
  def q120FromDefault(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      "SELECT ?s ?n FROM <g:C> WHERE { ?s <nation> ?n }",
      TripleStore.quads(sp, dir), TripleStore.langLabels(sp, dir))

  /** SPARQL 1.1 Update e2e: an INSERT DATA (two fresh triples) then a
    * DELETE WHERE (every `segment` edge) applied as one `;`-sequence to
    * the triple store, reported as per-predicate counts. Each op is one
    * (broadcastable) anti-join on (s,p,o) against the small delta — the
    * update-workload shape at any store size. */
  def q129SparqlUpdate(sp: SparkSession, dir: String): DataFrame = {
    val updated = graft.plans.SparqlText.update(
      """INSERT DATA { <N90> <type> "Place" . <N90> <label> "ATLANTIS" } ;
        |DELETE WHERE { ?s <segment> ?o }""".stripMargin,
      TripleStore.triples(sp, dir))
    updated.groupBy(col("p")).agg(count(lit(1)).as("n"))
  }

  /** SPARQL Update §3.1.3 modify forms e2e: an INSERT WHERE materializing
    * a join-derived edge (the R1-style rule as an UPDATE, not a view),
    * then a DELETE/INSERT WHERE predicate rename — both templates
    * instantiate under pre-state bindings. */
  def q131SparqlModify(sp: SparkSession, dir: String): DataFrame = {
    val updated = graft.plans.SparqlText.update(
      """INSERT { ?s <in_region> ?r } WHERE { ?s <nation> ?n . ?n <region> ?r } ;
        |DELETE { ?s <segment> ?o } INSERT { ?s <mktsegment> ?o }
        |WHERE { ?s <segment> ?o }""".stripMargin,
      TripleStore.triples(sp, dir))
    updated.groupBy(col("p")).agg(count(lit(1)).as("n"))
  }

  /** SPARQL Update graph management e2e (§3.2) over the named-graph
    * dataset: LOAD a TriG document (one default-graph triple + one named
    * block), CLEAR the supplier graph, ADD the region graph into the
    * nation graph (set semantics on the destination), then a WITH-scoped
    * predicate rename inside the nation graph. Each management op is a
    * null-safe filter or slice-union — the untouched remainder of the
    * store never shuffles; the modify is the usual delta anti-join. */
  // created once per JVM (not per invocation — the bench loop re-runs the
  // query several times) and removed on exit; the write is also outside any
  // timed region this way
  private lazy val q136Doc: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-q136")
    val doc = d.resolve("d.trig")
    java.nio.file.Files.writeString(doc,
      "<d1> <label> \"Doc One\" .\nGRAPH <gx> { <d2> <label> \"Doc Two\" . }\n")
    doc.toFile.deleteOnExit(); d.toFile.deleteOnExit()
    doc
  }

  /** Forces the lazy q136 TriG fixture from the bench harness's warmup
    * block, so no TIMED pass ever pays the temp-dir + file-write cost. */
  def warmupFixtures(): Unit = { q136Doc; () }

  def q136UpdateGraphs(sp: SparkSession, dir: String): DataFrame = {
    val doc = q136Doc
    val updated = graft.plans.SparqlText.update(
      s"""LOAD <file://$doc> ;
         |CLEAR GRAPH <g:S> ;
         |ADD GRAPH <g:R> TO GRAPH <g:N> ;
         |WITH <g:N>
         |DELETE { ?s <label> ?l } INSERT { ?s <name> ?l }
         |WHERE { ?s <label> ?l }""".stripMargin,
      TripleStore.quads(sp, dir))
    updated.groupBy(coalesce(col("g"), lit("DEFAULT")).as("g"), col("p"))
      .agg(count(lit(1)).as("n"))
  }

  /** Term fidelity end-to-end (§17.4.2): LANG()/DATATYPE() as general
    * expressions reading the hidden __lang_/__dt_ companions a
    * fidelity-carrying source binds per object variable, STRLANG/STRDT
    * constructing tagged terms via BIND, an IRI literal in expression
    * position, and the scan-attached LangM fast path — all in one query.
    * The companions ride the value joins (never as keys) and reach the
    * projection as ordinary columns: zero extra shuffles. */
  def q137LangDatatype(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?s ?l (LANG(?l) AS ?lg) (DATATYPE(?l) AS ?ldt)
        |       (DATATYPE(?k) AS ?kdt) (LANG(?k2) AS ?k2lg)
        |       (DATATYPE(?l2) AS ?l2dt)
        |WHERE {
        |  ?s <label> ?l .
        |  ?s <key> ?k .
        |  BIND(STRLANG(?k, "xx") AS ?k2)
        |  BIND(STRDT(?l, <http://www.w3.org/2001/XMLSchema#token>) AS ?l2)
        |  FILTER(LANG(?l) = "de")
        |  FILTER(DATATYPE(?k) = <http://www.w3.org/2001/XMLSchema#integer>)
        |}""".stripMargin,
      TripleStore.fidelityTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Typed-literal ORDER BY (§15.1): over a fidelity-carrying store the
    * sort key `?v` ranks term KINDS first (iri before literal here) and
    * orders numeric-typed literals by VALUE — lexical order would slot
    * "10" before "2" and interleave the digits before the R-prefixed
    * IRIs. LIMIT makes the ordering hash-observable: the kept set is all
    * 25 region IRIs plus the 5 numerically-smallest keys. */
  def q149TypedOrder(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?s ?v WHERE {
        |  { ?s <key> ?v . } UNION { ?s <region> ?v . }
        |}
        |ORDER BY ?v
        |LIMIT 30""".stripMargin,
      TripleStore.fidelityTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Negated property set with an INVERSE member (§9.1): for each nation
    * of region R1, `!(<type>|^<region>)` matches its forward triples with
    * predicate outside {type} (label, region) plus the REVERSED incoming
    * triples with predicate outside {region} (customers/suppliers
    * pointing at it via `nation`). Two complement-filtered scans — not a
    * union of the positive arms. */
  def q139NegatedInverse(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?x ?o WHERE {
        |  ?x <region> <R1> .
        |  ?x !(<type>|^<region>) ?o .
        |}""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Grouped path-sequence alternation (§9.1 recursion, one level):
    * `(<nation>/<region>)|<region>` — one arm is the COMPOSED n∘r scan
    * (customers/suppliers to their region via the nation hop), the other
    * a plain region scan (nations to their region). The composition join
    * shuffles on the shared node key like any BGP self-join; the arms
    * union into one (src,dst) relation. */
  def q157GroupedPathAlt(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      "SELECT DISTINCT ?x ?y WHERE { ?x (<nation>/<region>)|<region> ?y }",
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Closure of a composed group to a CONSTANT object: `(p/q)*` seeds the
    * semi-naive [[graft.plans.Closure.reachingTo]] with the constant and
    * walks the p∘q composite backwards — the 100 TB seeded-reach shape,
    * with the composite materialized once per round's frontier join
    * rather than as all-pairs. Zero-hop keeps the seed itself. */
  def q158GroupedPathStar(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      "SELECT ?x WHERE { ?x (<nation>/<region>)* <R1> }",
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Subselect inside a constant GRAPH (§13.3): the inner
    * `SELECT ?s (COUNT(?o) AS ?c) … GROUP BY` evaluates with the active
    * graph `g:C` — the graph filter pre-scopes the quad view the
    * subselect compiles against, so it pushes into the subselect's scans
    * and the aggregate groups only customer-graph triples. */
  def q166GraphSubselect(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?s ?c WHERE {
        |  GRAPH <g:C> {
        |    { SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s <segment> ?o } GROUP BY ?s }
        |  }
        |}""".stripMargin,
      TripleStore.quads(sp, dir), TripleStore.langLabels(sp, dir))

  /** BIND(EXISTS…) + SELECT REDUCED e2e (§17.4.1.4, §18.2.5.3): the
    * EXISTS lifts to a hidden boolean mark against the running frame and
    * feeds the bound IF; REDUCED compiles as full duplicate elimination
    * (a conforming choice, and the only deterministic one). */
  def q167BindExists(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT REDUCED ?x ?kind WHERE {
        |  ?x <nation> ?n .
        |  BIND(IF(EXISTS { ?x <type> <Supplier> }, "supplier", "customer")
        |       AS ?kind)
        |}""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** EXISTS in SELECT projections e2e (§17.4.1.4 completes): the mark
    * lifts against the grouped frame and projects as an ordinary boolean
    * column — here flagging which nations have at least one supplier. */
  def q171ProjectExists(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?n (EXISTS { ?s2 <nation> ?n . ?s2 <type> <Supplier> }
        |           AS ?has_supplier)
        |WHERE { ?n <type> <Place> }""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** EXISTS inside a HAVING expression — the last §17.4.1.4 position
    * (with GROUP BY keys and ORDER BY keys, spec-covered). Per §18 the
    * HAVING-time solution is the GROUPED row (keys + aggregates), so the
    * mark lifts against the post-aggregation frame with the group key as
    * the shared variable: nations that both clear the member-count bar
    * and sit in region R1. The mark join touches only the (tiny)
    * aggregated frame — never the pre-group solution multiset. */
  def q172HavingExists(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?n (COUNT(*) AS ?cnt) WHERE { ?m <nation> ?n }
        |GROUP BY ?n
        |HAVING(COUNT(*) > 5 && EXISTS { ?n <region> <R1> })""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** EXISTS as a GROUP BY key (§17.4.1.4, the GROUP BY position e2e):
    * the key expression evaluates per PRE-group solution — the mark lifts
    * against the running (member, nation) frame before aggregation, and
    * the boolean becomes the (two-group) partition: members of
    * R1-region nations vs everyone else. */
  def q182GroupbyExists(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?inr1 (COUNT(*) AS ?cnt) WHERE { ?m <nation> ?n }
        |GROUP BY (EXISTS { ?n <region> <R1> } AS ?inr1)""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** EXISTS as an ORDER BY key over a GROUPED frame (§17.4.1.4, the
    * ORDER BY position e2e): the mark lifts against the post-aggregation
    * rows (group key ?n is the shared variable), DESC puts R1-region
    * nations first, and the ?n tiebreak makes the order total — so the
    * LIMIT observes the EXISTS key (R1 nations all survive the cut, the
    * rest fill by name). */
  def q183OrderbyExists(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?n (COUNT(*) AS ?cnt) WHERE { ?m <nation> ?n }
        |GROUP BY ?n
        |ORDER BY DESC(EXISTS { ?n <region> <R1> }) ?n
        |LIMIT 10""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** EXISTS inside an AGGREGATE ARGUMENT (§17.4.1.4, the last expression
    * position): SUM(IF(EXISTS{…},1,0)) evaluates its argument per
    * PRE-aggregation solution, so the mark lifts against the (member,
    * nation) frame BEFORE the groupBy — the frame materializes once
    * (the mark split references it twice) and the marks are consumed
    * inside agg(), never surviving the grouping. Here: per-nation
    * counts of members that are suppliers. */
  def q188AggExists(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?n (SUM(IF(EXISTS { ?m <type> <Supplier> }, 1, 0)) AS ?nsup)
        |WHERE { ?m <nation> ?n }
        |GROUP BY ?n""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** The directed nation/region entity graph the link-analysis loops
    * (q198, q298, q249) walk: its (src, dst) edges, lazy. */
  private[graft] def entityEdges(sp: SparkSession, dir: String): DataFrame =
    TripleStore.triples(sp, dir).filter(col("p").isin("nation", "region"))
      .select(col("s").as("src"), col("o").as("dst"))

  /** A distributed loop's edges and their node set. The edges are
    * localCheckpointed (eager), not persisted: the loop's lazy per-round
    * checkpoints re-analyze this table's logical plan every round, and
    * the TripleStore union behind it is a deep tree — checkpointed it
    * plans as one leaf (same one-pass materialization as persist+count). */
  private def cutGraph(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = Materialize.localCheckpoint(edges)
    (e, Materialize.persist(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()))
  }

  /** PageRank over the entity graph (nation/region edges: C→N, S→N,
    * N→R) — the iterative-centrality companion to the census operators
    * (q110 components, q135 degrees, q162 triangles). Three damped
    * iterations (d = 0.85) with exact dangling-mass redistribution;
    * per-iteration ranks ROUND to 10dp before any further use (the
    * q186 round-before-use convention), so the whole trajectory
    * replays bit-identically as three chained CTEs in DuckDB.
    *
    * Scale shape per iteration: one (pr ⋈ deg) broadcast-or-shuffle
    * join, one contribution aggregation keyed on the edge DESTINATION
    * (map-side partials; the only corpus-sized shuffle), a 1-row
    * dangling-mass broadcast, and a localCheckpoint lineage cut so
    * iteration t never replays 1..t−1. Edges and the node set persist
    * across iterations. Top-20 under the total (pr desc, node) order
    * via TakeOrderedAndProject. */
  def q198Pagerank(sp: SparkSession, dir: String): DataFrame = {
    val (e, nodes) = cutGraph(entityEdges(sp, dir))
    val n = nodes.count()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("deg"))
    var pr: DataFrame = nodes.withColumn("pr", lit(1.0) / n)
    (1 to 3).foreach { _ =>
      val dangling = pr.join(deg, pr("node") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
      val contribs = pr.join(deg, pr("node") === deg("src"))
        .select(pr("node").as("cn"), (col("pr") / col("deg")).as("share"))
        .join(e, col("cn") === col("src"))
        .groupBy(col("dst")).agg(sum(col("share")).as("cin"))
      pr = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(nodes("node"), round(
          lit(0.15) / n + lit(0.85) *
            (coalesce(col("cin"), lit(0.0)) + col("dm") / n), 10).as("pr"))
        .transform(Materialize.localCheckpoint(_, eager = false)) // lazy: the terminal job materializes
    }
    // the cut sorts on the SAME 8dp key it emits (round-before-use):
    // sorting on the 10dp iteration state would let two 8dp-equal nodes
    // straddling rank 20 resolve differently from the oracle's
    // (rounded alias, node) order
    pr.orderBy(round(col("pr"), 8).desc, col("node").asc).limit(20)
      .select(col("node"), round(col("pr"), 8).as("pr"))
  }

  /** PERSONALIZED PageRank from a seed set (the topic-sensitive variant,
    * Haveliwala 2002 — design note, not code): teleport mass lands only
    * on R1's nations, so scores rank the graph by proximity TO THAT
    * NEIGHBORHOOD instead of global importance — the relevance prior a
    * graph-aware retrieval layer mixes into ranking, and the third
    * walk-family member next to global PageRank (q198) and HITS (q249).
    * Same scale shape as q198 — per round one edge-keyed contribution
    * shuffle, a 1-row dangling broadcast, a lineage cut — with two PPR
    * differences: the dangling mass redistributes to the SEED set (the
    * personalization vector), and nodes outside the seed set get zero
    * teleport. Seeds are a broadcast nation-cardinality frame. Scores
    * round to 10dp before reuse; the top-20 sorts on the 8dp emitted
    * key (q198's round-before-use cut). */
  def q298PersonalizedPagerank(sp: SparkSession, dir: String): DataFrame = {
    val (e, nodes) = cutGraph(entityEdges(sp, dir))
    val seeds = Materialize.localCheckpoint(e.filter(col("dst") === "R1")
      .select(col("src").as("node")).distinct())
    val ns = seeds.count().toDouble
    val deg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("deg"))
    val seedTag = broadcast(seeds.withColumn("inS", lit(1.0)))
    var pr: DataFrame = nodes.join(seedTag, Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("inS"), lit(0.0)) / ns).as("pr"))
    (1 to 3).foreach { _ =>
      val dangling = pr.join(deg, pr("node") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
      val contribs = pr.join(deg, pr("node") === deg("src"))
        .select(pr("node").as("cn"), (col("pr") / col("deg")).as("share"))
        .join(e, col("cn") === col("src"))
        .groupBy(col("dst")).agg(sum(col("share")).as("cin"))
      pr = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .join(seedTag, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), round(
          coalesce(col("inS"), lit(0.0)) *
            (lit(0.15) / ns + lit(0.85) * col("dm") / ns) +
            lit(0.85) * coalesce(col("cin"), lit(0.0)), 10).as("pr"))
        .transform(Materialize.localCheckpoint(_, eager = false)) // lazy: the terminal job materializes
    }
    pr.orderBy(round(col("pr"), 8).desc, col("node").asc).limit(20)
      .select(col("node"), round(col("pr"), 8).as("pr"))
  }

  /** HITS hubs & authorities over the entity graph — the second classic
    * link-analysis fixpoint next to PageRank (q198): PageRank scores
    * global importance through damped random walks; HITS separates
    * POINTING-WELL (hub) from BEING-POINTED-AT-WELL (authority), the
    * right lens for bipartite-ish reference graphs (members→nations→
    * regions). Three mutual-reinforcement rounds, L1-normalized (sum
    * division — no sqrt, so the replay stays in +,/,round):
    *   a ← normalize(Σ_{j→i} h(j));  h ← normalize(Σ_{i→j} a(j))
    * with every normalized score ROUNDED to 10dp before the next use
    * (the q186/q198 round-before-use convention), so the whole
    * trajectory replays bit-identically as chained CTEs in DuckDB.
    *
    * Scale shape per half-round: one contribution aggregation (keyed on
    * the edge DESTINATION for authorities, on the SOURCE for hubs; a
    * map-side-partial shuffle over the edge list) whose raw sums are the
    * half-round's one lazy lineage cut, plus its 1-row L1-norm broadcast.
    * The NEXT half-round divides and rounds inline as it joins the edges,
    * so no half-round joins the node frame: a node with no in-edges (out-
    * edges) has score 0 and only ever adds +0.0 to a sum, so it is left
    * out until the one terminal node join fills both columns. Edges and
    * the node frame persist across rounds. Top-20 under (authority desc,
    * node) via TakeOrderedAndProject, over [[hits]]' scores. */
  def q249Hits(sp: SparkSession, dir: String): DataFrame =
    hits(entityEdges(sp, dir))
      .orderBy(round(col("a"), 8).desc, col("node").asc).limit(20)
      .select(col("node"), round(col("a"), 8).as("authority"),
        round(col("h"), 8).as("hub"))

  /** q249's three HITS rounds over the (src, dst) `edges`: (node, a, h)
    * for every node, each score rounded to 10dp. An edge table of at most
    * `localMaxRows` rows ([[graft.plans.Closure.LocalMaxRows]]) is
    * collected once and the rounds replay on the driver; a larger one
    * runs the distributed half-rounds. */
  private[graft] def hits(edges: DataFrame,
                          localMaxRows: Int = Closure.LocalMaxRows): DataFrame =
    Closure.collectUpTo(edges, localMaxRows) match {
      case Some(rows) => hitsLocal(edges, rows)
      case None => hitsDistributed(edges)
    }

  private def hitsDistributed(edges: DataFrame): DataFrame = {
    val (e, nodes) = cutGraph(edges)
    val n = nodes.count()
    // (node, v) scores summed over the edges from `from` to `to`: the raw
    // sums are cut (lazy: the norm's broadcast materializes them), and the
    // normalized, rounded scores are a projection over the cut
    def half(scores: DataFrame, from: String, to: String): DataFrame = {
      val raw = scores.join(e, scores("node") === e(from))
        .groupBy(col(to).as("node")).agg(sum(col("v")).as("r"))
        .transform(Materialize.localCheckpoint(_, eager = false))
      raw.crossJoin(broadcast(raw.agg(sum(col("r")).as("z"))))
        .select(col("node"), round(col("r") / col("z"), 10).as("v"))
    }
    var hub: DataFrame = nodes.withColumn("v", lit(1.0) / n)
    var auth: DataFrame = null
    (1 to 3).foreach { _ =>
      auth = half(hub, "src", "dst")
      hub = half(auth, "dst", "src")
    }
    nodes.join(auth, Seq("node"), "left").join(hub, Seq("node"), "left")
      .select(nodes("node"), coalesce(auth("v"), lit(0.0)).as("a"),
        coalesce(hub("v"), lit(0.0)).as("h"))
  }

  /** [[hitsDistributed]] replayed on the collected edge rows, in the same
    * order: a null `from` key never joins, a null `to` key is one group
    * whose sum counts into the norm `z` (as `groupBy` does), and the
    * rounding is Spark's `round` on a double (`BigDecimal.valueOf`, HALF_UP). */
  private def hitsLocal(edges: DataFrame, rows: Array[Row]): DataFrame = {
    val es = rows.map(r => (r.get(0), r.get(1)))
    val nodes = es.flatMap { case (s, d) => Seq(s, d) }.distinct
    def round10(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(10, java.math.RoundingMode.HALF_UP).doubleValue
    def half(scores: Map[Any, Double], from: ((Any, Any)) => Any,
             to: ((Any, Any)) => Any): Map[Any, Double] = {
      val raw = mutable.LinkedHashMap.empty[Any, Double]
      es.foreach { e =>
        val k = from(e)
        if (k != null) scores.get(k).foreach(v => raw(to(e)) = raw.get(to(e)).fold(v)(_ + v))
      }
      val z = raw.values.sum
      raw.view.mapValues(r => round10(r / z)).toMap
    }
    var hub = nodes.map(_ -> 1.0 / nodes.length).toMap
    var auth = Map.empty[Any, Double]
    (1 to 3).foreach { _ =>
      auth = half(hub, _._1, _._2)
      hub = half(auth, _._2, _._1)
    }
    def score(m: Map[Any, Double], k: Any): Double =
      if (k == null) 0.0 else m.getOrElse(k, 0.0)
    edges.sparkSession.createDataFrame(
      nodes.toSeq.map(k => Row(k, score(auth, k), score(hub, k))).asJava,
      StructType(Seq(StructField("node", edges.schema("src").dataType),
        StructField("a", DoubleType), StructField("h", DoubleType))))
  }

  /** k-core decomposition by iterative peeling over the bipartite
    * part–supplier co-occurrence graph (distinct lineitem pairs): delete
    * every node of degree < k, recompute, repeat to the FIXPOINT — the
    * densest-region extractor behind community seeding and graph
    * cleaning (Seidman 1983 — design note, not code). Unlike the
    * fixed-round link-analysis fixpoints (q198/q249), peeling's rounds
    * are data-dependent; the loop runs to convergence with a per-round
    * edge-count read (census-sized, the Closure convention) and a
    * lineage cut. The oracle replays MORE rounds than any SF needs —
    * peeling is idempotent at the fixpoint, so surplus rounds are no-ops
    * and both engines land on the identical core.
    *
    * Scale shape per round: one degree aggregation (map-side partials)
    * + two semi-joins of the edge list against surviving nodes; work is
    * proportional to the REMAINING edge set, which only shrinks. */
  def q256KCore(sp: SparkSession, dir: String): DataFrame =
    kCore(Tables.lineitem(sp, dir)
      .select(concat(lit("P"), col("l_partkey").cast("string")).as("src"),
        concat(lit("S"), col("l_suppkey").cast("string")).as("dst"))
      .distinct(), k = 4)

  /** [[q256KCore]]'s core as a library operator: undirected k-core over
    * an edge frame (src, dst), one row per undirected pair, no
    * self-loops. Returns surviving (node, core_deg). maxRounds is a
    * refuse-loudly guard, not a truncation — non-convergence throws. */
  def kCore(edges0: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    var edges = edges0
      .unionByName(edges0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().transform(Materialize.localCheckpoint(_, eager = false)) // lazy: the count below materializes
    var m = edges.count()
    var rounds = 0
    var done = m == 0L
    while (!done && rounds < maxRounds) {
      val pruned = kCorePrune(edges, m, k)
        .transform(Materialize.localCheckpoint(_, eager = false)) // lazy: ONE job per round (count materializes)
      val m2 = pruned.count()
      // pruned is a materialized leaf now — the superseded round's blocks
      // are dead (peeling keeps only the newest edge set alive), so they
      // go now rather than at the query boundary: memory stays bounded by
      // one edge set however many rounds peeling takes
      Materialize.release(edges)
      done = m2 == m
      m = m2
      edges = pruned
      rounds += 1
    }
    if (!done) throw new IllegalStateException(
      s"kCore did not converge in $maxRounds rounds — raise maxRounds")
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** One [[kCore]] peeling round over the symmetrized edge set `edges`
    * of exactly `m` rows: keep the edges whose both endpoints have degree
    * ≥ k. The surviving-node side of both semi-joins is priced by `m`
    * ([[graft.plans.Closure.hintIf]]): |alive| ≤ distinct src ≤ m, so a
    * small remaining graph broadcasts — both semi-joins then stream the
    * edge blocks with no shuffle — instead of trusting AQE to convert
    * mid-loop. */
  private[graft] def kCorePrune(edges: DataFrame, m: Long, k: Int): DataFrame = {
    val alive = Closure.hintIf(edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select(col("src").as("node")), m)
    edges
      .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** The nation/region/segment entity graph with both orientations of
    * every edge — the undirected graph q230, q241 and q242 walk —
    * `decorate`d (q242 adds its weight column) and localCheckpointed: a
    * leaf plan for the per-round joins. */
  private def undirectedEntityEdges(sp: SparkSession, dir: String,
                                    decorate: DataFrame => DataFrame = identity): DataFrame = {
    val fwd = TripleStore.triples(sp, dir)
      .filter(col("p").isin("nation", "region", "segment"))
      .select(col("s").as("src"), col("o").as("dst"))
    Materialize.localCheckpoint(decorate(fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()))
  }

  /** Min-hop BFS from a seed entity over the UNDIRECTED entity graph
    * (nation/region/segment edges) — the shortest-path companion to the
    * reachability closure (J4) and PageRank (q198): closure asks "which",
    * BFS asks "how far". Semi-naive frontier expansion: each round joins
    * ONLY the previous round's newly-discovered frontier against the
    * persisted edge list, anti-joins the visited set (so no node is
    * re-expanded — work per round is frontier-bound, not
    * visited-bound), and localCheckpoints to cut lineage. Bounded to 4
    * hops, which the segment hub edges make sufficient to label the whole
    * component; the same loop at 100 TB is the standard BSP BFS — one
    * frontier-sized shuffle per round. Oracle: a hop-bounded recursive
    * CTE taking min(hop) per node. */
  def q230BfsHops(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val e = undirectedEntityEdges(sp, dir)

    var visited = Materialize.localCheckpoint(Seq(("R1", 0L)).toDF("node", "hop"))
    var frontier = visited.select("node")
    (1 to 4).foreach { h =>
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
        .transform(Materialize.localCheckpoint(_, eager = false)) // lazy — fixed-round loop, no driver read needed
      visited = Materialize.localCheckpoint(visited.unionByName(next), eager = false)
      frontier = next.select("node")
    }
    visited
  }

  /** Synchronous label-propagation communities (3 rounds, deterministic):
    * every node starts as its own label; each round it adopts the MOST
    * FREQUENT label among its neighbors, ties to the smallest label — the
    * argmax is `min(struct(-count, label))`, so the round is ONE
    * neighbor-label shuffle + one aggregation, no window, no
    * nondeterministic mode(). Fixed round count + total tie order make
    * the whole trajectory replayable as chained CTEs in DuckDB (the q198
    * convention), and each round localCheckpoints so round t never
    * replays rounds 1..t−1. Communities differ from q110's components:
    * LPA splits a connected graph along density, components only along
    * reachability. */
  def q241LabelPropagation(sp: SparkSession, dir: String): DataFrame = {
    val e = undirectedEntityEdges(sp, dir)

    var lbl = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .transform(Materialize.localCheckpoint(_))
    (1 to 3).foreach { _ =>
      lbl = e.join(lbl, e("src") === lbl("node"))
        .groupBy(e("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
        .transform(Materialize.localCheckpoint(_, eager = false)) // lazy — fixed-round loop
    }
    lbl
  }

  /** Bounded weighted shortest paths (4 Bellman-Ford relaxation rounds)
    * from the seed over the entity graph with deterministic
    * length-derived edge weights — the weighted companion to q230's BFS.
    * Each round is one edge-relaxation shuffle (dist ⋈ edges on the
    * source key) merged with the previous distances by a min-
    * aggregation; monotone non-increasing per node, integer-exact, so
    * the 4-round trajectory replays as chained CTEs. localCheckpoint per
    * round cuts the lineage exactly as the closure/PageRank loops do. */
  def q242WeightedSssp(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val e = undirectedEntityEdges(sp, dir,
      _.withColumn("w", (length(col("src")) * 7 + length(col("dst")) * 13) % 5 + 1))

    var dist = Materialize.localCheckpoint(Seq(("R1", 0L)).toDF("node", "dist"))
    (1 to 4).foreach { _ =>
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(Materialize.localCheckpoint(_, eager = false)) // lazy — fixed-round loop
    }
    dist
  }

  /** Trailing VALUES clause (§18.2.4): the inline table joins AFTER
    * grouping and HAVING — it constrains GROUPS (and decorates them
    * with table columns), never their inputs, so the counts stay the
    * full per-nation counts. The UNDEF row is a compatibility wildcard:
    * N1/N2 match their own row AND the wildcard (multiset: two rows
    * each). Always a broadcast of the literal table. */
  def q197TrailingValues(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?n ?tier (COUNT(*) AS ?cnt) WHERE { ?m <nation> ?n }
        |GROUP BY ?n
        |VALUES (?n ?tier) { (<N1> "gold") (<N2> "silver") (UNDEF "rest") }"""
        .stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Aggregate calls in ORDER BY of a grouped query (§18: ORDER BY
    * evaluates after grouping): DESC(COUNT(*)) rewrites to a hidden
    * aggregate column in the SAME hash-aggregate pass as the grouping
    * (no second shuffle), the sort runs before the final projection
    * (which hides the column again), and sort+LIMIT compile to
    * TakeOrderedAndProject. The ?n tiebreak makes the cut total. */
  def q191OrderbyAgg(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?n WHERE { ?m <nation> ?n }
        |GROUP BY ?n
        |ORDER BY DESC(COUNT(*)) ?n
        |LIMIT 10""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** GROUP BY/HAVING on CONSTRUCT (§10.2 full SolutionModifier): the
    * solution sequence becomes the GROUPED solutions — group keys plus
    * the engine's aggregate group-condition extension
    * `GROUP BY ?n (COUNT(?s) AS ?c)`, the only way a projection-less
    * CONSTRUCT can template an aggregate value. Desugars at parse time
    * to `CONSTRUCT { t } WHERE { SELECT … }`, so HAVING's hidden
    * aggregate columns, the aggregate ORDER BY keys, and the LIMIT cut
    * all ride the one SELECT grouping code path; the aggregate takes
    * its lexical form on emission (the graph stays (s,p,o) strings).
    * Reference shape: an aggregate-templated enrichment graph over a
    * local store (prosnet-prefect-pipelines/enrich_via_sparql.py:145-166
    * builds CONSTRUCT-style enrichment batches per entity). */
  def q204ConstructGroupby(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """CONSTRUCT { ?n <memberCount> ?c . ?n <type> <PopulousNation> }
        |WHERE { ?s <nation> ?n }
        |GROUP BY ?n (COUNT(?s) AS ?c)
        |HAVING (COUNT(?s) >= 3)
        |ORDER BY DESC(COUNT(?s)) ?n
        |LIMIT 8""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Solution modifiers on CONSTRUCT (§10.2): ORDER BY/LIMIT/OFFSET cut
    * the SOLUTION SEQUENCE before templating — the sort+limit compiles
    * to TakeOrderedAndProject (per-partition top-k, driver merge; no
    * global sort), the ≤LIMIT-row cut materializes once, and BOTH
    * template arms instantiate from the same cut. The (?n, ?s) key is
    * total (each nation edge is a distinct pair), so the cut — and the
    * DuckDB oracle's — is deterministic. */
  def q189ConstructLimit(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """CONSTRUCT { ?s <inNation> ?n . ?n <hasMember> ?s }
        |WHERE { ?s <nation> ?n }
        |ORDER BY ?n ?s
        |LIMIT 20 OFFSET 5""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Subselect inside `GRAPH ?var` (§13.3, the variable-graph position):
    * the engine rewrites per-graph evaluation algebraically — the GRAPH
    * wrapper pushes inside the subselect's WHERE (every scan binds ?g and
    * joins on it) and ?g joins the GROUP BY keys, so the aggregate groups
    * WITHIN each named graph with no driver iteration. Here: per-graph
    * per-subject triple counts — the named-graph audit query shape
    * (enrich_via_sparql.py:145-166's local-store flow). */
  def q184GraphVarSubselect(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?g ?s ?c WHERE {
        |  GRAPH ?g {
        |    { SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s ?p2 ?o } GROUP BY ?s }
        |  }
        |}""".stripMargin,
      TripleStore.quads(sp, dir), TripleStore.langLabels(sp, dir))

  /** Per-graph solution modifiers inside `GRAPH ?var` (§13.3 + §18):
    * ORDER BY + LIMIT in the subselect cut WITHIN each named graph — a
    * row_number window partitioned on ?g over the aggregated frame (one
    * shuffle on the graph key; the cut never globalizes and never
    * iterates graphs on the driver). Here: each graph's top-2 subjects
    * by triple count, (count desc, subject) a total order. */
  def q190GraphvarTopk(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?g ?s ?c WHERE {
        |  GRAPH ?g { { SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s ?p2 ?o }
        |               GROUP BY ?s ORDER BY DESC(?c) ?s LIMIT 2 } }
        |}""".stripMargin,
      TripleStore.quads(sp, dir), TripleStore.langLabels(sp, dir))

  /** Property path inside `GRAPH ?var` (§13.3 + §9): the closure is
    * GRAPH-PARTITIONED — nodes are tagged with their graph and ONE
    * distributed closure runs over the disjoint union of per-graph edge
    * sets, so walks never cross graphs. The fixture makes the difference
    * observable: `nation` edges live in g:C/g:S and `region` edges in
    * g:N, so the union-graph (wrong) evaluation would chain C→N→R while
    * the per-graph answer keeps each hop inside its own graph. */
  def q185GraphVarPath(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?g ?x ?y WHERE {
        |  GRAPH ?g { ?x (<nation>|<region>)+ ?y }
        |}""".stripMargin,
      TripleStore.quads(sp, dir), TripleStore.langLabels(sp, dir))

  /** §17.3 XSD numeric promotion e2e at double-lossy magnitude: the
    * nation key climbs onto the exact integer rung via the xsd:integer
    * constructor (§17.5) and the whole expression stays long —
    * k·900719925474099 + 11 lands past 2^53, where a double evaluation
    * rounds the +11 away. The FILTER compares two longs that differ by
    * exactly 1 at that magnitude: under the old blanket double cast both
    * sides round equal and every large-k row DROPS, so the DuckDB BIGINT
    * oracle hash-matches only if the promotion table is real. */
  def q174IntegerExact(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?s ?big WHERE {
        |  ?s <key> ?k .
        |  BIND(xsd:integer(?k) * 900719925474099 + 11 AS ?big)
        |  FILTER(xsd:integer(?big) !=
        |         xsd:integer(?k) * 900719925474099 + 12)
        |}""".stripMargin,
      TripleStore.fidelityTriples(sp, dir), TripleStore.langLabels(sp, dir))

  /** General `SERVICE <iri> {…}` federation e2e (§18.2.4.3): the service
    * IRI resolves through the endpoint registry to a SECOND triple store
    * (region zone/code facts that exist nowhere in the main store — the
    * testable stand-in for the reference's fixed remote endpoint,
    * wikidata_index.py:129-152), the body evaluates against that store
    * and bag-joins the outer solutions on the shared region variable.
    * An unregistered IRI refuses; SERVICE SILENT degrades to the unit
    * solution — both spec-covered. */
  /** Remote-shaped SERVICE endpoint e2e (SURVEY S1's optional
    * remote-fetch variant; the reference's primary mode —
    * prosnet-prefect-pipelines/wikidata_index.py:129-152 walks SPARQL
    * results-JSON bindings dicts page by page): the endpoint's pages are
    * REAL W3C results-JSON documents parsed by the paged DSv2 source
    * ([[graft.sources.SparqlJsonPagedProvider]], one page file = one
    * input partition), carrying term fidelity (uri/literal kinds,
    * xml:lang, datatype) into the bindings frame; the frame registers as
    * the SERVICE graph and the body's LANG() filter reads the remote
    * language tags. No egress in the sandbox, so the pages are written
    * to local disk from the 25-row nation table first (bounded fixture
    * generation, the q80 precedent) — a live adapter fetches the same
    * bodies over HTTP and changes nothing downstream. */
  def q205SparqlJsonEndpoint(sp: SparkSession, dir: String): DataFrame = {
    import graft.sources.SparqlResultsJson
    import graft.sources.SparqlResultsJson.RTerm
    val fixDir = graft.util.Fs.scratchDir("graft_sparql_json", dir)
    val fsPath = new org.apache.hadoop.fs.Path(fixDir)
    val fs = fsPath.getFileSystem(graft.util.Fs.hadoopConf())
    fs.delete(fsPath, true)
    val nations = graft.Tables.nation(sp, dir)
      .selectExpr("CAST(n_nationkey AS LONG)", "n_name",
        "CAST(n_regionkey AS LONG)")
      .collect().sortBy(_.getLong(0)) // 25 rows at every SF — fixture-gen
    def iri(v: String) = Some(RTerm(v, kind = "iri"))
    val rows = nations.flatMap { n =>
      val (k, name, rk) = (n.getLong(0), n.getString(1), n.getLong(2))
      Seq(
        Seq(iri(s"N$k"), iri("region"), iri(s"R$rk")),
        Seq(iri(s"N$k"), iri("label"),
          Some(RTerm(name, lang = Some("en")))),
        Seq(iri(s"N$k"), iri("label"),
          Some(RTerm("de " + name, lang = Some("de")))),
        Seq(iri(s"N$k"), iri("pop"), Some(RTerm((k * 37 + 11).toString,
          dt = Some("http://www.w3.org/2001/XMLSchema#integer")))))
    }.toSeq
    SparqlResultsJson.writePages(fixDir, Seq("s", "p", "o"), rows, pageSize = 13)
    val endpoint = SparqlResultsJson.asTriples(
      SparqlResultsJson.bindings(sp, fixDir))
    graft.plans.SparqlText.registerService("http://fixture.example/sparql", endpoint)
    try graft.plans.SparqlText.run(
      """SELECT ?c ?r ?lbl WHERE {
        |  ?c <nation> ?n .
        |  SERVICE <http://fixture.example/sparql> {
        |    ?n <region> ?r . ?n <label> ?lbl
        |    FILTER(LANG(?lbl) = "en")
        |  }
        |}""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))
    finally graft.plans.SparqlText.unregisterService(
      "http://fixture.example/sparql", sp)
  }

  def q173ServiceFederation(sp: SparkSession, dir: String): DataFrame = {
    graft.plans.SparqlText.registerService("http://example.org/geo",
      TripleStore.serviceTriples(sp, dir))
    // resolution happens at compile time (run builds the plan eagerly),
    // so the transient registration is dropped before returning — no
    // stale endpoint outlives the call
    try graft.plans.SparqlText.run(
      """SELECT ?n ?r ?z ?code WHERE {
        |  ?n <region> ?r .
        |  SERVICE <http://example.org/geo> { ?r <zone> ?z . ?r <code> ?code }
        |  FILTER(?z = "Z1")
        |}""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))
    finally graft.plans.SparqlText.unregisterService("http://example.org/geo", sp)
  }

  /** Per-binding `SERVICE ?var` dispatch e2e (§18.2.4): regions carry an
    * `endpoint` triple naming one of TWO registered stores, and the
    * stores hold CONFLICTING `code` facts for every region (7k+1 vs
    * 9k+2) — so the oracle hash-matches only if each region consulted
    * exactly the endpoint its binding names (a union-over-endpoints
    * evaluation would emit both codes per region). The plan is one
    * compiled arm per registered endpoint, unioned and semi-joined on
    * the outer (endpoint, region) bindings — a driver-bounded loop over
    * the registry, never over data. */
  def q187ServiceDispatch(sp: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(sp, dir)
    val rs = concat(lit("R"), r("r_regionkey").cast("string"))
    val epView = r.select(rs.as("s"), lit("endpoint").as("p"),
      concat(lit("http://eps/"), (r("r_regionkey") % 2).cast("string")).as("o"))
    val svcA = r.select(rs.as("s"), lit("code").as("p"),
      (r("r_regionkey") * 7 + 1).cast("string").as("o"))
    val svcB = r.select(rs.as("s"), lit("code").as("p"),
      (r("r_regionkey") * 9 + 2).cast("string").as("o"))
    graft.plans.SparqlText.registerService("http://eps/0", svcA)
    graft.plans.SparqlText.registerService("http://eps/1", svcB)
    try graft.plans.SparqlText.run(
      """SELECT ?r ?ep ?code WHERE {
        |  ?r <endpoint> ?ep .
        |  SERVICE ?ep { ?r <code> ?code }
        |}""".stripMargin,
      epView, TripleStore.langLabels(sp, dir))
    finally {
      graft.plans.SparqlText.unregisterService("http://eps/0", sp)
      graft.plans.SparqlText.unregisterService("http://eps/1", sp)
    }
  }

  /** BGP join-order selection e2e: the patterns are textually ordered
    * WORST-first (the unfiltered variable-predicate scan, then the
    * nation hop, then the selective constant pattern) — the compiler's
    * selectivity-greedy reorder anchors the join tree on the
    * `type=Supplier` scan and joins the unfiltered scan last, so the
    * intermediate never exceeds the supplier frontier. Same results by
    * inner-join commutativity; the ORDER is what q164 pins (the oracle
    * is order-blind, the spec asserts the reorder directly). */
  def q164JoinOrder(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?x ?o ?n WHERE {
        |  ?x ?p2 ?o .
        |  ?x <nation> ?n .
        |  ?x <type> <Supplier> .
        |}""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Per-member modifiers inside a path group — `(<nation>/<region>*)`,
    * the shape of Wikidata's canonical `wdt:P31/wdt:P279*` idiom written
    * parenthesized. The starred member composes ALGEBRAICALLY: the arm
    * relation is nation ∪ nation∘region⁺ (zero-length region-hops are
    * identity against the nation hop), so no zero-hop node domain is
    * materialized and the member closure runs the same transitive-pairs
    * machinery as a top-level star. */
  def q159GroupedMemberMod(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      "SELECT DISTINCT ?x ?y WHERE { ?x (<nation>/<region>*) ?y }",
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** EXISTS in expression position (§17.4.1.4): `FILTER(expr && EXISTS
    * {…})` — the EXISTS lifts to a hidden boolean mark via the same
    * compatibility machinery as the group-level form, so the conjunction
    * is an ordinary codegen'd predicate over the mark column. */
  def q138ExistsExpr(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?s ?seg WHERE {
        |  ?s <segment> ?seg .
        |  FILTER(STRLEN(?seg) > 5 && EXISTS { ?s <nation> <N1> })
        |}""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Hash builtins (§17.4.4.11–15) and ENCODE_FOR_URI (§17.4.3.12) as
    * ordinary expression-grammar calls: md5/sha2 compile to the codegen'd
    * Spark builtins, ENCODE_FOR_URI to url_encode plus three fixed
    * rewrites (space, '*', '~' — see the compiler note). SHA1/384/512
    * are engine-supported but spec-covered only (DuckDB lacks them). */
  def q142HashFns(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?s (MD5(?l) AS ?hmd5) (SHA256(?l) AS ?hsha256)
        |       (ENCODE_FOR_URI(?l) AS ?enc)
        |WHERE { ?s <type> <Person> . ?s <label> ?l .
        |        FILTER(STRSTARTS(MD5(?l), "0") || STRSTARTS(SHA256(?l), "0"))
        |}""".stripMargin,
      TripleStore.triples(sp, dir), TripleStore.langLabels(sp, dir))

  /** Term-kind predicates (§17.4.2.1–4) over a kind-carrying store: the
    * `oType` column binds a `__kind_` companion beside each object
    * variable, so ISIRI/ISLITERAL/ISBLANK are plain string predicates
    * and ISNUMERIC reads the datatype companion — no extra join for any
    * of them. Plain stores fail loudly (spec). */
  def q145TermKinds(sp: SparkSession, dir: String): DataFrame =
    graft.plans.SparqlText.run(
      """SELECT ?s ?o (ISIRI(?o) AS ?kiri) (ISLITERAL(?o) AS ?klit)
        |       (ISNUMERIC(?o) AS ?knum) (ISBLANK(?o) AS ?kbn)
        |WHERE {
        |  { ?s <key> ?o } UNION { ?s <region> ?o }
        |  FILTER(ISIRI(?o) || ISNUMERIC(?o))
        |}""".stripMargin,
      TripleStore.fidelityTriples(sp, dir), TripleStore.langLabels(sp, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q157_grouped_path_alt"  -> q157GroupedPathAlt _,
    "q164_join_order"        -> q164JoinOrder _,
    "q167_bind_exists"       -> q167BindExists _,
    "q171_project_exists"    -> q171ProjectExists _,
    "q172_having_exists"     -> q172HavingExists _,
    "q182_groupby_exists"    -> q182GroupbyExists _,
    "q183_orderby_exists"    -> q183OrderbyExists _,
    "q188_agg_exists"        -> q188AggExists _,
    "q189_construct_limit"   -> q189ConstructLimit _,
    "q204_construct_groupby" -> q204ConstructGroupby _,
    "q190_graphvar_topk"     -> q190GraphvarTopk _,
    "q191_orderby_agg"       -> q191OrderbyAgg _,
    "q197_trailing_values"   -> q197TrailingValues _,
    "q198_pagerank"          -> q198Pagerank _,
    "q249_hits"              -> q249Hits _,
    "q256_kcore"             -> q256KCore _,
    "q230_bfs_hops"          -> q230BfsHops _,
    "q241_label_propagation" -> q241LabelPropagation _,
    "q242_weighted_sssp"     -> q242WeightedSssp _,
    "q184_graphvar_subselect" -> q184GraphVarSubselect _,
    "q185_graphvar_path"     -> q185GraphVarPath _,
    "q187_service_dispatch"  -> q187ServiceDispatch _,
    "q205_sparql_json_endpoint" -> q205SparqlJsonEndpoint _,
    "q210_timezone"          -> q210Timezone _,
    "q294_duration_compare"  -> q294DurationCompare _,
    "q277_duration_arith"    -> q277DurationArith _,
    "q303_duration_muldiv"   -> q303DurationMulDiv _,
    "q304_duration_agg"      -> q304DurationAgg _,
    "q308_duration_orderby"  -> q308DurationOrderby _,
    "q309_duration_var_agg"  -> q309DurationVarAgg _,
    "q298_personalized_pagerank" -> q298PersonalizedPagerank _,
    "q173_service_federation" -> q173ServiceFederation _,
    "q174_integer_exact"     -> q174IntegerExact _,
    "q166_graph_subselect"   -> q166GraphSubselect _,
    "q159_grouped_member_mod" -> q159GroupedMemberMod _,
    "q158_grouped_path_star" -> q158GroupedPathStar _,
    "q145_term_kinds"        -> q145TermKinds _,
    "q142_hash_fns"          -> q142HashFns _,
    "q139_negated_inverse"   -> q139NegatedInverse _,
    "q138_exists_expr"       -> q138ExistsExpr _,
    "q137_lang_datatype"     -> q137LangDatatype _,
    "q149_typed_order"       -> q149TypedOrder _,
    "q136_update_graphs"     -> q136UpdateGraphs _,
    "q131_sparql_modify"     -> q131SparqlModify _,
    "q129_sparql_update"     -> q129SparqlUpdate _,
    "q117_graph_var"         -> q117GraphVar _,
    "q118_graph_const"       -> q118GraphConst _,
    "q119_from_named"        -> q119FromNamed _,
    "q120_from_default"      -> q120FromDefault _,
    "q115_groupby_expr"      -> q115GroupByExpr _,
    "q108_describe"          -> q108Describe _,
    "q109_having_expr"       -> q109HavingExpr _,
    "q105_ask"               -> q105Ask _,
    "q106_values_table"      -> q106ValuesTable _,
    "q107_negated_path"      -> q107NegatedPath _,
    "q148_datetime_fns"      -> q148DatetimeFns _,
    "q100_arith_expr"        -> q100ArithmeticExpr _,
    "q101_string_fns"        -> q101StringFns _,
    "q102_select_star_in"    -> q102SelectStarIn _,
    "q103_agg_expr"          -> q103AggExpr _,
    "q104_numeric_fns"       -> q104NumericFns _,
    "q99_having"             -> q99Having _,
    "q98_bind_expressions"   -> q98BindExpressions _,
    "q91_filter_connectives" -> q91FilterConnectives _,
    "q94_bound_contains"     -> q94BoundContainsOrder _,
    "q95_not_exists"         -> q95NotExists _,
    "q96_agg_projections"    -> q96AggProjections _,
    "q97_inverse_path"       -> q97InversePath _,
    "q92_var_predicate"      -> q92VarPredicate _,
    "q93_midpath_star"       -> q93MidPathStar _,
    "q79_nquad_format"     -> q79NquadFormat _,
    "q82_turtle_roundtrip" -> q82TurtleRoundtrip _,
    "q86_sparql_parse"     -> q86SparqlParse _,
    "q87_sparql_path"      -> q87SparqlPathClosure _,
    "q316_union_disjoint"  -> q316SparqlUnionDisjoint _,
    "q90_sparql_construct" -> q90SparqlConstruct _,
    "q14_bgp_europe"       -> q14BgpEurope _,
    "q15_label_service"    -> q15LabelService _,
    "q16_closure_reach"    -> q16ClosureReach _,
    "q17_region_ancestors" -> q17RegionAncestors _,
    "q18_inverse_rule"     -> q18InverseRule _,
    "q19_provided_mint"    -> q19ProvidedMint _,
    "q20_timespan_gen"     -> q20TimespanGen _,
    "q21_render_person"    -> q21RenderPerson _,
    "q22_wkt_points"       -> q22WktPoints _
  )

  private val T = TripleStore.triplesSql
  private val L = TripleStore.langLabelsSql
  private val E = TripleStore.edgesSql
  private val EN = TripleStore.edgesNoLineitemSql

  val oracles: Map[String, String] = Map(
    "q174_integer_exact" ->
      s"""WITH f AS (${TripleStore.fidelityTriplesSql})
         SELECT s, CAST(CAST(o AS BIGINT) * 900719925474099 + 11 AS BIGINT) AS big
         FROM f WHERE p = 'key'
           AND CAST(o AS BIGINT) * 900719925474099 + 11
               <> CAST(o AS BIGINT) * 900719925474099 + 12""",
    "q173_service_federation" ->
      s"""WITH st AS ($T), svc AS (${TripleStore.serviceTriplesSql})
         SELECT t.s AS n, t.o AS r, z.o AS z, c.o AS code
         FROM st t
         JOIN svc z ON z.s = t.o AND z.p = 'zone'
         JOIN svc c ON c.s = t.o AND c.p = 'code'
         WHERE t.p = 'region' AND z.o = 'Z1'""",
    "q172_having_exists" ->
      s"""WITH st AS ($T),
         g AS (SELECT o AS n, COUNT(*) AS cnt FROM st
               WHERE p = 'nation' GROUP BY o)
         SELECT n, CAST(cnt AS BIGINT) AS cnt FROM g
         WHERE cnt > 5 AND EXISTS (SELECT 1 FROM st r
           WHERE r.p = 'region' AND r.o = 'R1' AND r.s = g.n)""",
    "q187_service_dispatch" ->
      """SELECT 'R'||CAST(r_regionkey AS VARCHAR) AS r,
         'http://eps/'||CAST(r_regionkey % 2 AS VARCHAR) AS ep,
         CAST(CASE WHEN r_regionkey % 2 = 0 THEN r_regionkey * 7 + 1
                   ELSE r_regionkey * 9 + 2 END AS VARCHAR) AS code
         FROM region""",
    "q184_graphvar_subselect" ->
      s"""WITH quads AS (${TripleStore.quadsSql})
         SELECT g, s, CAST(count(o) AS BIGINT) AS c
         FROM quads GROUP BY 1, 2""",
    "q185_graphvar_path" ->
      s"""WITH RECURSIVE quads AS (${TripleStore.quadsSql}),
         e AS (SELECT g, s AS src, o AS dst FROM quads
               WHERE p IN ('nation', 'region')),
         walk AS (SELECT g, src, dst FROM e
                  UNION
                  SELECT w.g, w.src, e2.dst FROM walk w
                  JOIN e e2 ON e2.g = w.g AND e2.src = w.dst)
         SELECT g, src AS x, dst AS y FROM walk""",
    "q182_groupby_exists" ->
      s"""WITH st AS ($T),
         m AS (SELECT s, o AS n FROM st WHERE p = 'nation')
         SELECT EXISTS (SELECT 1 FROM st r
                  WHERE r.p = 'region' AND r.o = 'R1' AND r.s = m.n) AS inr1,
                CAST(count(*) AS BIGINT) AS cnt
         FROM m GROUP BY 1""",
    "q241_label_propagation" ->
      s"""WITH st AS ($T),
         e AS (SELECT DISTINCT src, dst FROM (
               SELECT s AS src, o AS dst FROM st
               WHERE p IN ('nation', 'region', 'segment')
               UNION ALL
               SELECT o, s FROM st
               WHERE p IN ('nation', 'region', 'segment'))),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         r1 AS (SELECT e.dst AS node, l.label, count(*) AS c
                FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
         l1 AS (SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                  PARTITION BY node ORDER BY c DESC, label) AS rn FROM r1)
                WHERE rn = 1),
         r2 AS (SELECT e.dst AS node, l.label, count(*) AS c
                FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
         l2 AS (SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                  PARTITION BY node ORDER BY c DESC, label) AS rn FROM r2)
                WHERE rn = 1),
         r3 AS (SELECT e.dst AS node, l.label, count(*) AS c
                FROM e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
         l3 AS (SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                  PARTITION BY node ORDER BY c DESC, label) AS rn FROM r3)
                WHERE rn = 1)
         SELECT node, label FROM l3""",
    "q242_weighted_sssp" ->
      s"""WITH st AS ($T),
         e AS (SELECT src, dst,
                      (length(src) * 7 + length(dst) * 13) % 5 + 1 AS w
               FROM (SELECT DISTINCT src, dst FROM (
                 SELECT s AS src, o AS dst FROM st
                 WHERE p IN ('nation', 'region', 'segment')
                 UNION ALL
                 SELECT o, s FROM st
                 WHERE p IN ('nation', 'region', 'segment')))),
         d0 AS (SELECT 'R1' AS node, 0 AS dist),
         d1 AS (SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d0
                UNION ALL
                SELECT e.dst, d.dist + e.w FROM d0 d JOIN e ON e.src = d.node)
                GROUP BY 1),
         d2 AS (SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d1
                UNION ALL
                SELECT e.dst, d.dist + e.w FROM d1 d JOIN e ON e.src = d.node)
                GROUP BY 1),
         d3 AS (SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d2
                UNION ALL
                SELECT e.dst, d.dist + e.w FROM d2 d JOIN e ON e.src = d.node)
                GROUP BY 1),
         d4 AS (SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d3
                UNION ALL
                SELECT e.dst, d.dist + e.w FROM d3 d JOIN e ON e.src = d.node)
                GROUP BY 1)
         SELECT node, CAST(dist AS BIGINT) AS dist FROM d4""",
    "q230_bfs_hops" ->
      s"""WITH RECURSIVE st AS ($T),
         e AS (SELECT s AS src, o AS dst FROM st
               WHERE p IN ('nation', 'region', 'segment')
               UNION
               SELECT o, s FROM st
               WHERE p IN ('nation', 'region', 'segment')),
         walk(node, hop) AS (
           SELECT 'R1', 0
           UNION
           SELECT e.dst, w.hop + 1 FROM walk w
           JOIN e ON e.src = w.node WHERE w.hop < 4)
         SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM walk GROUP BY 1""",
    "q198_pagerank" ->
      s"""WITH st AS ($T),
         e AS (SELECT s AS src, o AS dst FROM st
               WHERE p IN ('nation', 'region')),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
                 FROM e GROUP BY 1),
         p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
         d1 AS (SELECT coalesce(sum(pr), 0) AS dm FROM p0
                LEFT JOIN deg ON p0.node = deg.src WHERE deg.src IS NULL),
         c1 AS (SELECT e.dst, sum(p0.pr / deg.deg) AS cin FROM p0
                JOIN deg ON p0.node = deg.src
                JOIN e ON e.src = p0.node GROUP BY 1),
         p1 AS (SELECT nodes.node, round(0.15 / nn.n + 0.85 *
                  (coalesce(c1.cin, 0) + d1.dm / nn.n), 10) AS pr
                FROM nodes LEFT JOIN c1 ON c1.dst = nodes.node
                CROSS JOIN nn CROSS JOIN d1),
         d2 AS (SELECT coalesce(sum(pr), 0) AS dm FROM p1
                LEFT JOIN deg ON p1.node = deg.src WHERE deg.src IS NULL),
         c2 AS (SELECT e.dst, sum(p1.pr / deg.deg) AS cin FROM p1
                JOIN deg ON p1.node = deg.src
                JOIN e ON e.src = p1.node GROUP BY 1),
         p2 AS (SELECT nodes.node, round(0.15 / nn.n + 0.85 *
                  (coalesce(c2.cin, 0) + d2.dm / nn.n), 10) AS pr
                FROM nodes LEFT JOIN c2 ON c2.dst = nodes.node
                CROSS JOIN nn CROSS JOIN d2),
         d3 AS (SELECT coalesce(sum(pr), 0) AS dm FROM p2
                LEFT JOIN deg ON p2.node = deg.src WHERE deg.src IS NULL),
         c3 AS (SELECT e.dst, sum(p2.pr / deg.deg) AS cin FROM p2
                JOIN deg ON p2.node = deg.src
                JOIN e ON e.src = p2.node GROUP BY 1),
         p3 AS (SELECT nodes.node, round(0.15 / nn.n + 0.85 *
                  (coalesce(c3.cin, 0) + d3.dm / nn.n), 10) AS pr
                FROM nodes LEFT JOIN c3 ON c3.dst = nodes.node
                CROSS JOIN nn CROSS JOIN d3)
         SELECT node, round(pr, 8) AS pr FROM p3
         ORDER BY pr DESC, node LIMIT 20""",
    "q298_personalized_pagerank" -> {
      def rnd(k: Int) = {
        val prev = s"p${k - 1}"
        s"""d$k AS (SELECT coalesce(sum(pr), 0) AS dm FROM $prev
                LEFT JOIN deg ON $prev.node = deg.src WHERE deg.src IS NULL),
         c$k AS (SELECT e.dst, sum($prev.pr / deg.deg) AS cin FROM $prev
                JOIN deg ON $prev.node = deg.src
                JOIN e ON e.src = $prev.node GROUP BY 1),
         p$k AS (SELECT nodes.node, round(
                  CASE WHEN seeds.node IS NOT NULL
                       THEN 0.15 / sn.ns + 0.85 * d$k.dm / sn.ns
                       ELSE 0 END
                  + 0.85 * coalesce(c$k.cin, 0), 10) AS pr
                FROM nodes LEFT JOIN c$k ON c$k.dst = nodes.node
                LEFT JOIN seeds ON seeds.node = nodes.node
                CROSS JOIN sn CROSS JOIN d$k)"""
      }
      s"""WITH st AS ($T),
         e AS (SELECT s AS src, o AS dst FROM st
               WHERE p IN ('nation', 'region')),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         seeds AS (SELECT DISTINCT src AS node FROM e WHERE dst = 'R1'),
         sn AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM seeds),
         p0 AS (SELECT nodes.node,
                  CASE WHEN seeds.node IS NOT NULL THEN 1.0 / sn.ns
                       ELSE 0 END AS pr
                FROM nodes LEFT JOIN seeds ON seeds.node = nodes.node
                CROSS JOIN sn),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
                 FROM e GROUP BY 1),
         ${rnd(1)},
         ${rnd(2)},
         ${rnd(3)}
         SELECT node, round(pr, 8) AS pr FROM p3
         ORDER BY pr DESC, node LIMIT 20"""
    },
    // Peeling replay: 12 chained rounds — strictly more than any tested
    // SF needs; rounds past the fixpoint delete nothing, so the surplus
    // is a no-op and the final frame IS the 4-core (see q256KCore doc).
    "q256_kcore" -> {
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // s(i) references s(i-1) three times — inlined, the chain expands
      // 3^12 scans; materialized, it is 12 linear passes.
      val rounds = (1 to 12).map { i =>
        s""", a$i AS MATERIALIZED (SELECT src AS node FROM s${i - 1}
                      GROUP BY src HAVING count(*) >= 4),
         s$i AS MATERIALIZED (SELECT e.src, e.dst FROM s${i - 1} e
                 JOIN a$i x ON e.src = x.node
                 JOIN a$i y ON e.dst = y.node)"""
      }.mkString
      s"""WITH e0 AS (SELECT DISTINCT 'P'||CAST(l_partkey AS VARCHAR) AS src,
                'S'||CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem),
         s0 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)$rounds
         SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
         FROM s12 GROUP BY 1"""
    },
    "q249_hits" ->
      s"""WITH st AS ($T),
         e AS (SELECT s AS src, o AS dst FROM st
               WHERE p IN ('nation', 'region')),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         h0 AS (SELECT node, 1.0 / nn.n AS h FROM nodes CROSS JOIN nn),
         a1r AS (SELECT e.dst, sum(h0.h) AS ar FROM h0
                 JOIN e ON h0.node = e.src GROUP BY 1),
         a1n AS (SELECT sum(ar) AS an FROM a1r),
         a1 AS (SELECT nodes.node, round(coalesce(ar, 0) / an, 10) AS a
                FROM nodes LEFT JOIN a1r ON a1r.dst = nodes.node CROSS JOIN a1n),
         h1r AS (SELECT e.src, sum(a1.a) AS hr FROM a1
                 JOIN e ON a1.node = e.dst GROUP BY 1),
         h1n AS (SELECT sum(hr) AS hn FROM h1r),
         h1 AS (SELECT nodes.node, round(coalesce(hr, 0) / hn, 10) AS h
                FROM nodes LEFT JOIN h1r ON h1r.src = nodes.node CROSS JOIN h1n),
         a2r AS (SELECT e.dst, sum(h1.h) AS ar FROM h1
                 JOIN e ON h1.node = e.src GROUP BY 1),
         a2n AS (SELECT sum(ar) AS an FROM a2r),
         a2 AS (SELECT nodes.node, round(coalesce(ar, 0) / an, 10) AS a
                FROM nodes LEFT JOIN a2r ON a2r.dst = nodes.node CROSS JOIN a2n),
         h2r AS (SELECT e.src, sum(a2.a) AS hr FROM a2
                 JOIN e ON a2.node = e.dst GROUP BY 1),
         h2n AS (SELECT sum(hr) AS hn FROM h2r),
         h2 AS (SELECT nodes.node, round(coalesce(hr, 0) / hn, 10) AS h
                FROM nodes LEFT JOIN h2r ON h2r.src = nodes.node CROSS JOIN h2n),
         a3r AS (SELECT e.dst, sum(h2.h) AS ar FROM h2
                 JOIN e ON h2.node = e.src GROUP BY 1),
         a3n AS (SELECT sum(ar) AS an FROM a3r),
         a3 AS (SELECT nodes.node, round(coalesce(ar, 0) / an, 10) AS a
                FROM nodes LEFT JOIN a3r ON a3r.dst = nodes.node CROSS JOIN a3n),
         h3r AS (SELECT e.src, sum(a3.a) AS hr FROM a3
                 JOIN e ON a3.node = e.dst GROUP BY 1),
         h3n AS (SELECT sum(hr) AS hn FROM h3r),
         h3 AS (SELECT nodes.node, round(coalesce(hr, 0) / hn, 10) AS h
                FROM nodes LEFT JOIN h3r ON h3r.src = nodes.node CROSS JOIN h3n)
         SELECT a3.node, round(a3.a, 8) AS authority, round(h3.h, 8) AS hub
         FROM a3 JOIN h3 ON a3.node = h3.node
         ORDER BY round(a3.a, 8) DESC, a3.node LIMIT 20""",
    "q197_trailing_values" ->
      s"""WITH st AS ($T),
         g AS (SELECT o AS n, CAST(count(*) AS BIGINT) AS cnt FROM st
               WHERE p = 'nation' GROUP BY o),
         v AS (SELECT 'N1' AS n, 'gold' AS tier
               UNION ALL SELECT 'N2', 'silver'
               UNION ALL SELECT NULL, 'rest')
         SELECT g.n, v.tier, g.cnt
         FROM g JOIN v ON v.n IS NULL OR v.n = g.n""",
    "q191_orderby_agg" ->
      s"""WITH st AS ($T)
         SELECT o AS n FROM st WHERE p = 'nation'
         GROUP BY o ORDER BY count(*) DESC, o LIMIT 10""",
    "q190_graphvar_topk" ->
      s"""WITH quads AS (${TripleStore.quadsSql}),
         per AS (SELECT g, s, CAST(count(o) AS BIGINT) AS c
                 FROM quads GROUP BY 1, 2),
         rk AS (SELECT g, s, c,
                  row_number() OVER (PARTITION BY g ORDER BY c DESC, s) AS rn
                FROM per)
         SELECT g, s, c FROM rk WHERE rn <= 2""",
    "q189_construct_limit" ->
      s"""WITH st AS ($T),
         m AS (SELECT s, o AS n FROM st WHERE p = 'nation'
               ORDER BY o, s LIMIT 20 OFFSET 5)
         SELECT s, 'inNation' AS p, n AS o FROM m
         UNION
         SELECT n AS s, 'hasMember' AS p, s AS o FROM m""",
    "q204_construct_groupby" ->
      s"""WITH st AS ($T),
         g AS (SELECT o AS n, count(s) AS c FROM st WHERE p = 'nation'
               GROUP BY o HAVING count(s) >= 3
               ORDER BY count(s) DESC, o LIMIT 8)
         SELECT n AS s, 'memberCount' AS p, CAST(c AS VARCHAR) AS o FROM g
         UNION
         SELECT n AS s, 'type' AS p, 'PopulousNation' AS o FROM g""",
    "q205_sparql_json_endpoint" ->
      """WITH m AS (
           SELECT 'C'||CAST(c_custkey AS VARCHAR) AS c, c_nationkey AS nk
           FROM customer
           UNION ALL
           SELECT 'S'||CAST(s_suppkey AS VARCHAR), s_nationkey FROM supplier)
         SELECT m.c AS c, 'R'||CAST(n_regionkey AS VARCHAR) AS r,
                n_name AS lbl
         FROM m JOIN nation ON m.nk = n_nationkey""",
    "q188_agg_exists" ->
      s"""WITH st AS ($T),
         m AS (SELECT s, o AS n FROM st WHERE p = 'nation')
         SELECT n, CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM st r
                  WHERE r.p = 'type' AND r.o = 'Supplier' AND r.s = m.s)
                THEN 1 ELSE 0 END) AS BIGINT) AS nsup
         FROM m GROUP BY n""",
    "q183_orderby_exists" ->
      s"""WITH st AS ($T),
         g AS (SELECT o AS n, count(*) AS cnt FROM st
               WHERE p = 'nation' GROUP BY o)
         SELECT n, CAST(cnt AS BIGINT) AS cnt FROM g
         ORDER BY EXISTS (SELECT 1 FROM st r
           WHERE r.p = 'region' AND r.o = 'R1' AND r.s = g.n) DESC, n
         LIMIT 10""",
    "q171_project_exists" ->
      s"""WITH triples AS ($T)
         SELECT t1.s AS n,
           EXISTS (SELECT 1 FROM triples t2 JOIN triples t3 ON t3.s = t2.s
                   WHERE t2.p = 'nation' AND t2.o = t1.s
                     AND t3.p = 'type' AND t3.o = 'Supplier') AS has_supplier
         FROM triples t1 WHERE t1.p = 'type' AND t1.o = 'Place'""",
    "q167_bind_exists" ->
      s"""WITH triples AS ($T)
         SELECT DISTINCT t1.s AS x,
           CASE WHEN EXISTS (SELECT 1 FROM triples t2
                             WHERE t2.s = t1.s AND t2.p = 'type'
                               AND t2.o = 'Supplier')
                THEN 'supplier' ELSE 'customer' END AS kind
         FROM triples t1 WHERE t1.p = 'nation'""",
    "q166_graph_subselect" ->
      s"""WITH quads AS (${TripleStore.quadsSql})
         SELECT s, CAST(count(o) AS BIGINT) AS c FROM quads
         WHERE g = 'g:C' AND p = 'segment' GROUP BY 1""",
    "q164_join_order" ->
      s"""WITH triples AS ($T)
         SELECT t1.s AS x, t3.o AS o, t2.o AS n
         FROM triples t1
         JOIN triples t2 ON t2.s = t1.s
         JOIN triples t3 ON t3.s = t1.s
         WHERE t1.p = 'type' AND t1.o = 'Supplier' AND t2.p = 'nation'""",
    "q159_grouped_member_mod" ->
      s"""WITH RECURSIVE triples AS ($T),
         ne AS (SELECT s AS src, o AS dst FROM triples WHERE p='nation'),
         re AS (SELECT s AS src, o AS dst FROM triples WHERE p='region'),
         walk AS (SELECT src AS x, dst AS y FROM ne
                  UNION
                  SELECT w.x, r.dst FROM walk w JOIN re r ON r.src = w.y)
         SELECT DISTINCT x, y FROM walk""",
    "q157_grouped_path_alt" ->
      s"""WITH triples AS ($T),
         ne AS (SELECT s AS src, o AS dst FROM triples WHERE p='nation'),
         re AS (SELECT s AS src, o AS dst FROM triples WHERE p='region')
         SELECT DISTINCT x, y FROM (
           SELECT n.src AS x, r.dst AS y FROM ne n JOIN re r ON r.src = n.dst
           UNION
           SELECT src, dst FROM re)""",
    "q158_grouped_path_star" ->
      s"""WITH RECURSIVE triples AS ($T),
         comp AS (SELECT n.s AS src, r.o AS dst
                  FROM triples n JOIN triples r ON r.s = n.o
                  WHERE n.p = 'nation' AND r.p = 'region'),
         reach AS (SELECT 'R1' AS x
                   UNION
                   SELECT c.src FROM comp c JOIN reach t ON c.dst = t.x)
         SELECT DISTINCT x FROM reach""",
    "q145_term_kinds" ->
      s"""WITH f AS (${TripleStore.fidelityTriplesSql})
         SELECT s, o, oType = 'iri' AS kiri, oType = 'literal' AS klit,
                coalesce(oDatatype = 'http://www.w3.org/2001/XMLSchema#integer',
                  FALSE) AS knum,
                oType = 'bnode' AS kbn
         FROM f
         WHERE p IN ('key', 'region')
           AND (oType = 'iri'
                OR coalesce(oDatatype =
                  'http://www.w3.org/2001/XMLSchema#integer', FALSE))""",
    "q142_hash_fns" ->
      s"""WITH st AS ($T)
         SELECT t.s AS s, md5(l.o) AS hmd5, sha256(l.o) AS hsha256,
                replace(l.o, '#', '%23') AS enc
         FROM st t JOIN st l ON l.s = t.s AND l.p = 'label'
         WHERE t.p = 'type' AND t.o = 'Person'
           AND (md5(l.o) LIKE '0%' OR sha256(l.o) LIKE '0%')""",
    "q131_sparql_modify" ->
      s"""WITH st AS ($T),
         inr AS (SELECT DISTINCT a.s AS s, 'in_region' AS p, b.o AS o
                 FROM st a JOIN st b
                   ON a.p = 'nation' AND b.p = 'region' AND a.o = b.s),
         st2 AS (SELECT * FROM st UNION ALL SELECT * FROM inr),
         st3 AS (SELECT s, CASE WHEN p = 'segment' THEN 'mktsegment' ELSE p END AS p, o
                 FROM st2)
         SELECT p, CAST(count(*) AS BIGINT) AS n FROM st3 GROUP BY p""",
    "q139_negated_inverse" ->
      s"""WITH st AS ($T),
         r1 AS (SELECT s FROM st WHERE p = 'region' AND o = 'R1')
         SELECT x.s AS x, x.o AS o FROM st x JOIN r1 ON x.s = r1.s
         WHERE x.p <> 'type'
         UNION ALL
         SELECT t.o AS x, t.s AS o FROM st t JOIN r1 ON t.o = r1.s
         WHERE t.p <> 'region'""",
    "q138_exists_expr" ->
      s"""WITH st AS ($T)
         SELECT c.s AS s, c.o AS seg FROM st c
         WHERE c.p = 'segment' AND length(c.o) > 5
           AND EXISTS (SELECT 1 FROM st n
                       WHERE n.p = 'nation' AND n.o = 'N1' AND n.s = c.s)""",
    "q137_lang_datatype" ->
      s"""WITH f AS (${TripleStore.fidelityTriplesSql})
         SELECT l.s AS s, l.o AS l, l.oLang AS lg,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString' AS ldt,
                'http://www.w3.org/2001/XMLSchema#integer' AS kdt,
                'xx' AS k2lg,
                'http://www.w3.org/2001/XMLSchema#token' AS l2dt
         FROM f l JOIN f k ON l.s = k.s
         WHERE l.p = 'label' AND l.oLang = 'de' AND k.p = 'key'""",
    "q149_typed_order" ->
      """WITH u AS (
           SELECT 'N'||CAST(n_nationkey AS VARCHAR) AS s,
                  CAST(n_nationkey AS VARCHAR) AS v,
                  1 AS knd, 0 AS isn, CAST(n_nationkey AS DOUBLE) AS numv
           FROM nation
           UNION ALL
           SELECT 'N'||CAST(n_nationkey AS VARCHAR),
                  'R'||CAST(n_regionkey AS VARCHAR), 0, 1, NULL
           FROM nation)
         SELECT s, v FROM u
         ORDER BY knd, isn, numv NULLS FIRST, v LIMIT 30""",
    "q136_update_graphs" ->
      s"""WITH st0 AS (SELECT * FROM (${TripleStore.quadsSql})
                       UNION ALL SELECT * FROM (VALUES
                         ('d1', 'label', 'Doc One', NULL),
                         ('d2', 'label', 'Doc Two', 'gx')) v(s, p, o, g)),
         st1 AS (SELECT * FROM st0 WHERE g IS NULL OR g <> 'g:S'),
         added AS (SELECT r.s, r.p, r.o, 'g:N' AS g
                   FROM st1 r WHERE r.g = 'g:R' AND NOT EXISTS
                     (SELECT 1 FROM st1 d WHERE d.g = 'g:N'
                      AND d.s = r.s AND d.p = r.p AND d.o = r.o)),
         st2 AS (SELECT * FROM st1 UNION ALL SELECT * FROM added),
         st3 AS (SELECT * FROM st2 WHERE g IS NULL OR g <> 'g:N'
                 UNION ALL SELECT s, p, o, g FROM st2
                   WHERE g = 'g:N' AND p <> 'label'
                 UNION ALL SELECT s, 'name', o, g FROM st2
                   WHERE g = 'g:N' AND p = 'label')
         SELECT coalesce(g, 'DEFAULT') AS g, p,
                CAST(count(*) AS BIGINT) AS n
         FROM st3 GROUP BY 1, 2""",
    "q129_sparql_update" ->
      s"""WITH st AS ($T),
         upd AS (SELECT * FROM st WHERE p <> 'segment'
                 UNION ALL SELECT 'N90', 'type', 'Place'
                 UNION ALL SELECT 'N90', 'label', 'ATLANTIS')
         SELECT p, CAST(count(*) AS BIGINT) AS n FROM upd GROUP BY p""",
    "q117_graph_var" ->
      s"""WITH quads AS (${TripleStore.quadsSql})
         SELECT a.g, a.s, a.o AS seg
         FROM quads a JOIN quads b ON a.s = b.s AND a.g = b.g
         WHERE a.p = 'segment' AND b.p = 'nation' AND b.o = 'N1'""",
    "q118_graph_const" ->
      s"""WITH quads AS (${TripleStore.quadsSql})
         SELECT a.s, a.o AS l
         FROM quads a JOIN quads b ON a.s = b.s
         WHERE a.p = 'label' AND a.g = 'g:N'
           AND b.p = 'region' AND b.o = 'R1'""",
    "q119_from_named" ->
      s"""WITH quads AS (${TripleStore.quadsSql})
         SELECT g, s AS x, o AS l FROM quads
         WHERE p = 'label' AND g IN ('g:N', 'g:R')""",
    "q120_from_default" ->
      s"""WITH quads AS (${TripleStore.quadsSql})
         SELECT s, o AS n FROM quads
         WHERE p = 'nation' AND g = 'g:C'""",
    "q115_groupby_expr" ->
      """SELECT CAST(month(o_orderdate) AS DOUBLE) AS m,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY month(o_orderdate)""",
    "q108_describe" ->
      s"""WITH triples AS ($T)
         SELECT t.s, t.p, t.o FROM triples t
         JOIN (SELECT DISTINCT s FROM triples
               WHERE p = 'region' AND o = 'R1') n ON t.s = n.s""",
    "q109_having_expr" ->
      """SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n
         FROM customer
         GROUP BY c_mktsegment
         HAVING sum(c_acctbal) / COUNT(*) > 4400.0""",
    "q105_ask" ->
      """SELECT EXISTS(SELECT 1 FROM orders
                       WHERE o_orderstatus = 'P'
                         AND o_totalprice > 300000.0) AS ask""",
    "q106_values_table" ->
      """SELECT 'C'||CAST(c_custkey AS VARCHAR) AS c,
                c_mktsegment AS seg, v.tier
         FROM customer
         JOIN (VALUES ('BUILDING', 'b2b'), ('MACHINERY', 'b2b'),
                      ('AUTOMOBILE', 'consumer')) AS v(seg, tier)
           ON c_mktsegment = v.seg""",
    "q107_negated_path" ->
      """SELECT 'O'||CAST(o_orderkey AS VARCHAR) AS x, o_orderstatus AS o
         FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') = '1995-01-01'
         UNION ALL
         SELECT 'O'||CAST(o_orderkey AS VARCHAR), o_orderpriority
         FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') = '1995-01-01'""",
    "q210_timezone" ->
      """WITH t AS (SELECT 'E' || CAST(event_id AS VARCHAR) AS x,
                      event_id % 4 AS zi
                    FROM events WHERE event_id < 2000)
         SELECT x,
           CASE zi WHEN 0 THEN 'PT0S' WHEN 1 THEN 'PT5H30M'
                   WHEN 2 THEN '-PT8H' ELSE NULL END AS z,
           CASE WHEN zi = 3 THEN 'http://www.w3.org/2001/XMLSchema#string'
                ELSE 'http://www.w3.org/2001/XMLSchema#dayTimeDuration'
           END AS dt
         FROM t""",
    "q294_duration_compare" ->
      """WITH t AS (SELECT 'E' || CAST(event_id AS VARCHAR) AS x,
                      event_id % 4 AS zi
                    FROM events WHERE event_id < 2000),
         d AS (SELECT x,
                 CASE zi WHEN 0 THEN 'PT0S' WHEN 1 THEN 'PT5H30M'
                         WHEN 2 THEN '-PT8H' ELSE NULL END AS z,
                 CASE zi WHEN 0 THEN 0 WHEN 1 THEN 19800
                         WHEN 2 THEN -28800 ELSE NULL END AS secs
               FROM t)
         SELECT x, z,
                CASE WHEN secs > 0 THEN 'east' ELSE 'nonpositive' END AS cls
         FROM d WHERE secs IS NOT NULL AND secs < 36000""",
    "q277_duration_arith" ->
      """WITH t AS (SELECT 'E' || CAST(event_id AS VARCHAR) AS x,
                      event_id % 4 AS zi, ts,
                      CASE event_id % 4 WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30'
                           WHEN 2 THEN '-08:00' ELSE '' END AS zone
                    FROM events WHERE event_id < 2000)
         SELECT x,
           CASE zi WHEN 0 THEN 'PT1H30M' WHEN 1 THEN 'PT7H'
                   WHEN 2 THEN '-PT6H30M' END AS zsum,
           strftime(ts + INTERVAL 26 HOUR, '%Y-%m-%dT%H:%M:%S') || zone
             AS later,
           'P1Y11M' AS ym
         FROM t WHERE zi < 3""",
    "q303_duration_muldiv" ->
      """WITH t AS (SELECT 'E' || CAST(event_id AS VARCHAR) AS x,
                      event_id % 4 AS zi
                    FROM events WHERE event_id < 2000)
         SELECT x,
           CASE zi WHEN 0 THEN 'PT0S' WHEN 1 THEN 'PT16H30M'
                   WHEN 2 THEN '-P1D' END AS tri,
           CASE zi WHEN 0 THEN 'PT0S' WHEN 1 THEN 'PT2H45M'
                   WHEN 2 THEN '-PT4H' END AS half,
           CAST(CASE zi WHEN 0 THEN 0.0 WHEN 1 THEN 5.5
                        WHEN 2 THEN -8.0 END AS DOUBLE) AS ratio,
           'P5Y' AS ymq
         FROM t""",
    // q304: aggregate seconds per sign class, then render the canonical
    // dayTimeDuration lexical ONCE over an unpivoted (stat, seconds)
    // frame and pivot back — the renderer is written a single time, in
    // exactly the engine's op order (round(abs(s)) → BIGINT, integer
    // component splits, zero components omitted, 'PT0S' for zero)
    "q304_duration_agg" ->
      """WITH t AS (SELECT event_id % 4 AS zi FROM events
                    WHERE event_id < 2000),
         d AS (SELECT CASE zi WHEN 0 THEN 0.0 WHEN 1 THEN 19800.0
                              WHEN 2 THEN -28800.0 END AS secs,
                      CASE WHEN zi = 1 THEN 'east'
                           WHEN zi = 3 THEN NULL
                           ELSE 'nonpositive' END AS cls
               FROM t),
         agg AS (SELECT cls, count(secs) AS n, sum(secs) AS tot_s,
                        avg(secs) AS mean_s, min(secs) AS lo_s,
                        max(secs) AS hi_s
                 FROM d GROUP BY cls),
         u AS (SELECT cls, n, 'tot' AS stat, tot_s AS s FROM agg
               UNION ALL SELECT cls, n, 'mean', mean_s FROM agg
               UNION ALL SELECT cls, n, 'lo', lo_s FROM agg
               UNION ALL SELECT cls, n, 'hi', hi_s FROM agg),
         r AS (SELECT cls, n, stat,
                 CASE WHEN s IS NULL THEN NULL
                      WHEN a = 0 THEN 'PT0S'
                      ELSE (CASE WHEN s < 0 THEN '-' ELSE '' END) || 'P' ||
                        (CASE WHEN a // 86400 > 0
                              THEN CAST(a // 86400 AS VARCHAR) || 'D'
                              ELSE '' END) ||
                        (CASE WHEN (a % 86400) // 3600 > 0
                                OR (a % 3600) // 60 > 0 OR a % 60 > 0
                              THEN 'T' ||
                                (CASE WHEN (a % 86400) // 3600 > 0
                                      THEN CAST((a % 86400) // 3600 AS VARCHAR) || 'H'
                                      ELSE '' END) ||
                                (CASE WHEN (a % 3600) // 60 > 0
                                      THEN CAST((a % 3600) // 60 AS VARCHAR) || 'M'
                                      ELSE '' END) ||
                                (CASE WHEN a % 60 > 0
                                      THEN CAST(a % 60 AS VARCHAR) || 'S'
                                      ELSE '' END)
                              ELSE '' END)
                 END AS dur
               FROM (SELECT cls, n, stat, s,
                            CAST(round(abs(s)) AS BIGINT) AS a FROM u))
         SELECT cls, n,
           max(CASE WHEN stat = 'tot' THEN dur END) AS tot,
           max(CASE WHEN stat = 'mean' THEN dur END) AS mean,
           max(CASE WHEN stat = 'lo' THEN dur END) AS lo,
           max(CASE WHEN stat = 'hi' THEN dur END) AS hi
         FROM r GROUP BY cls, n""",
    // q308: the ordered-prefix SET is the evidence (the hash compare is
    // order-insensitive, but the LIMIT straddles the PT2H/PT10H value
    // boundary, which lexical order would pick differently)
    "q308_duration_orderby" ->
      """WITH t AS (SELECT 'E' || CAST(event_id AS VARCHAR) AS x,
                      event_id % 4 AS zi
                    FROM events WHERE event_id < 2000),
         d AS (SELECT x,
                 CASE zi WHEN 0 THEN 'PT0S' WHEN 1 THEN 'PT10H'
                         WHEN 2 THEN 'PT2H' ELSE NULL END AS z,
                 CASE zi WHEN 0 THEN 0 WHEN 1 THEN 36000
                         WHEN 2 THEN 7200 ELSE NULL END AS secs
               FROM t)
         SELECT x, z FROM d WHERE z IS NOT NULL
         ORDER BY secs, x LIMIT 600""",
    // q309: same unpivoted single renderer as q304, over the direct-
    // variable aggregate path's zone set (+10:00/+02:00 discriminate
    // value-order MIN/MAX from lexical)
    "q309_duration_var_agg" ->
      """WITH t AS (SELECT event_id % 4 AS zi FROM events
                    WHERE event_id < 2000),
         d AS (SELECT CASE zi WHEN 0 THEN 0.0 WHEN 1 THEN 36000.0
                              WHEN 2 THEN 7200.0 END AS secs,
                      CASE WHEN zi = 3 THEN NULL
                           WHEN zi = 0 THEN 'nonpositive'
                           ELSE 'east' END AS cls
               FROM t),
         agg AS (SELECT cls, count(secs) AS n, sum(secs) AS tot_s,
                        avg(secs) AS mean_s, min(secs) AS lo_s,
                        max(secs) AS hi_s
                 FROM d GROUP BY cls),
         u AS (SELECT cls, n, 'tot' AS stat, tot_s AS s FROM agg
               UNION ALL SELECT cls, n, 'mean', mean_s FROM agg
               UNION ALL SELECT cls, n, 'lo', lo_s FROM agg
               UNION ALL SELECT cls, n, 'hi', hi_s FROM agg),
         r AS (SELECT cls, n, stat,
                 CASE WHEN s IS NULL THEN NULL
                      WHEN a = 0 THEN 'PT0S'
                      ELSE (CASE WHEN s < 0 THEN '-' ELSE '' END) || 'P' ||
                        (CASE WHEN a // 86400 > 0
                              THEN CAST(a // 86400 AS VARCHAR) || 'D'
                              ELSE '' END) ||
                        (CASE WHEN (a % 86400) // 3600 > 0
                                OR (a % 3600) // 60 > 0 OR a % 60 > 0
                              THEN 'T' ||
                                (CASE WHEN (a % 86400) // 3600 > 0
                                      THEN CAST((a % 86400) // 3600 AS VARCHAR) || 'H'
                                      ELSE '' END) ||
                                (CASE WHEN (a % 3600) // 60 > 0
                                      THEN CAST((a % 3600) // 60 AS VARCHAR) || 'M'
                                      ELSE '' END) ||
                                (CASE WHEN a % 60 > 0
                                      THEN CAST(a % 60 AS VARCHAR) || 'S'
                                      ELSE '' END)
                              ELSE '' END)
                 END AS dur
               FROM (SELECT cls, n, stat, s,
                            CAST(round(abs(s)) AS BIGINT) AS a FROM u))
         SELECT cls, n,
           max(CASE WHEN stat = 'tot' THEN dur END) AS tot,
           max(CASE WHEN stat = 'mean' THEN dur END) AS mean,
           max(CASE WHEN stat = 'lo' THEN dur END) AS lo,
           max(CASE WHEN stat = 'hi' THEN dur END) AS hi
         FROM r GROUP BY cls, n""",
    "q148_datetime_fns" ->
      """WITH t AS (SELECT 'E' || CAST(event_id AS VARCHAR) AS x,
                      strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z' AS d
                    FROM events
                    WHERE event_id < 2000 AND event_type = 'click')
         SELECT x, d,
           CAST(regexp_extract(d, '^\d{4}-\d{2}-\d{2}T(\d{2})', 1) AS DOUBLE) AS h,
           CAST(regexp_extract(d, '^\d{4}-\d{2}-\d{2}T\d{2}:(\d{2})', 1) AS DOUBLE) AS m,
           CAST(regexp_extract(d, '^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:(\d{2})', 1) AS DOUBLE) AS sec,
           regexp_extract(d, '^\d{4}-\d{2}-\d{2}T.*?(Z|[+-]\d{2}:\d{2})$', 1) AS tz
         FROM t
         WHERE CAST(regexp_extract(d, '^\d{4}-\d{2}-\d{2}T(\d{2})', 1) AS DOUBLE) >= 12
           AND CAST(regexp_extract(d, '^\d{4}-\d{2}-\d{2}T\d{2}:(\d{2})', 1) AS DOUBLE) < 30""",
    "q100_arith_expr" ->
      """SELECT 'O'||CAST(o_orderkey AS VARCHAR) AS x,
                o_totalprice * 2.0 - 10.0 AS adj
         FROM orders
         WHERE o_orderstatus = 'F' AND o_totalprice * 2.0 > 500000.0
         ORDER BY adj DESC, x
         LIMIT 50""",
    "q101_string_fns" ->
      """SELECT 'O'||CAST(o_orderkey AS VARCHAR) AS x,
                upper(substr(o_orderpriority, 3)) AS u,
                CASE WHEN instr(o_orderpriority, '-') > 0
                     THEN substr(o_orderpriority, 1, instr(o_orderpriority, '-') - 1)
                     ELSE '' END AS pre
         FROM orders
         WHERE length(o_orderpriority) >= 8
           AND regexp_matches(o_orderpriority, '(?i)(urgent|medium)')""",
    "q102_select_star_in" ->
      """SELECT 'O'||CAST(o_orderkey AS VARCHAR) AS x,
                o_orderstatus AS st,
                strftime(o_orderdate, '%Y-%m-%d') AS d
         FROM orders
         WHERE o_orderstatus IN ('P', 'F')
           AND year(o_orderdate) = 1996 AND day(o_orderdate) <= 5""",
    "q103_agg_expr" ->
      """SELECT 'N'||CAST(c_nationkey AS VARCHAR) AS n,
                string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS segs,
                sum(c_acctbal * 0.5) AS half,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM customer
         GROUP BY c_nationkey""",
    "q104_numeric_fns" ->
      """SELECT 'O'||CAST(o_orderkey AS VARCHAR) AS x,
                CAST(round(o_totalprice / 1000.0) AS DOUBLE) AS kilo,
                CAST(floor(o_totalprice / 10000.0) AS DOUBLE) AS bucket
         FROM orders
         WHERE abs(o_totalprice - 150000.0) <= 20000.0
           AND ceil(o_totalprice / 10000.0) >= 14.0""",
    "q91_filter_connectives" ->
      """SELECT 'O'||CAST(o_orderkey AS VARCHAR) AS x,
                strftime(o_orderdate, '%Y-%m-%d') AS d,
                o_orderstatus AS st
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m-%d') >= '1995-01-01'
           AND strftime(o_orderdate, '%Y-%m-%d') < '1995-03-01'
           AND (o_totalprice > 100000.5 OR NOT o_orderstatus = 'F')""",
    "q94_bound_contains" ->
      """SELECT 'O'||CAST(o_orderkey AS VARCHAR) AS x,
                strftime(o_orderdate, '%Y-%m-%d') AS d,
                o_orderpriority AS pr
         FROM orders
         WHERE o_totalprice > 150000.0
           AND o_orderpriority LIKE '%URGENT%'
         ORDER BY strftime(o_orderdate, '%Y-%m-%d') DESC,
                  'O'||CAST(o_orderkey AS VARCHAR)
         LIMIT 100""",
    "q99_having" ->
      s"""WITH triples AS ($T)
         SELECT reg.o AS r, CAST(COUNT(reg.s) AS BIGINT) AS n_nations,
                MIN(l.o) AS first
         FROM triples reg JOIN triples l ON l.s = reg.s AND l.p = 'label'
         WHERE reg.p = 'region'
         GROUP BY reg.o
         HAVING MIN(l.o) < 'NATION_13'""",
    "q98_bind_expressions" ->
      """SELECT 'C'||CAST(c_custkey AS VARCHAR) AS c,
                c_mktsegment||'/'||'N'||CAST(c_nationkey AS VARCHAR) AS key,
                CASE WHEN c_acctbal > 5000.0 THEN 'high' ELSE 'low' END AS tier
         FROM customer""",
    "q97_inverse_path" ->
      s"""WITH triples AS ($T),
         mid AS (
           SELECT s AS x, o AS m FROM triples WHERE p = 'nation'
           UNION ALL
           SELECT o AS x, s AS m FROM triples WHERE p = 'region')
         SELECT DISTINCT mid.x AS x, l.o AS y
         FROM mid JOIN triples l ON l.s = mid.m AND l.p = 'label'""",
    "q96_agg_projections" ->
      s"""WITH triples AS ($T)
         SELECT s.o AS seg, CAST(COUNT(DISTINCT s.s) AS BIGINT) AS n,
                MIN(l.o) AS lo, MAX(l.o) AS hi
         FROM triples s JOIN triples l ON l.s = s.s AND l.p = 'label'
         WHERE s.p = 'segment'
         GROUP BY s.o""",
    "q95_not_exists" ->
      """SELECT 'C'||CAST(c_custkey AS VARCHAR) AS c FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderstatus = 'P')""",
    "q92_var_predicate" ->
      s"""WITH triples AS ($T)
         SELECT t2.s AS x, t2.p AS p2, t2.o AS o
         FROM triples t1 JOIN triples t2 ON t2.s = t1.s
         WHERE t1.p = 'type' AND t1.o = 'Supplier'""",
    "q93_midpath_star" ->
      s"""WITH RECURSIVE triples AS ($T),
         ne AS (SELECT s AS src, o AS dst FROM triples WHERE p='nation'),
         re AS (SELECT s AS src, o AS dst FROM triples WHERE p='region'),
         lab AS (SELECT s, o FROM triples WHERE p='label'),
         nnodes AS (SELECT src AS n FROM ne UNION SELECT dst FROM ne),
         nstar AS (
           SELECT n AS x, n AS y FROM nnodes
           UNION
           SELECT s.x, e.dst FROM nstar s JOIN ne e ON e.src = s.y),
         rtrans AS (
           SELECT src AS x, dst AS y FROM re
           UNION
           SELECT t.x, e.dst FROM rtrans t JOIN re e ON e.src = t.y),
         walk AS (
           SELECT x, y FROM nstar
           UNION
           SELECT n.x, r.y FROM nstar n JOIN rtrans r ON r.x = n.y)
         SELECT DISTINCT w.x AS x, l.o AS l
         FROM walk w JOIN lab l ON l.s = w.y""",
    "q90_sparql_construct" ->
      """WITH u AS (SELECT DISTINCT c_mktsegment AS sa,
                    'urn:prov:'||md5(c_mktsegment) AS pfp FROM customer)
         SELECT 'C'||CAST(c_custkey AS VARCHAR) AS s,
                'http://pfp/proxy_for' AS p, u.pfp AS o
         FROM customer JOIN u ON c_mktsegment = u.sa
         UNION
         SELECT pfp, 'http://pfp/type', 'http://pfp/provided_entity' FROM u""",
    "q87_sparql_path" ->
      s"""WITH RECURSIVE edges AS ($EN),
         reach AS (
           SELECT 'R1' AS x
           UNION
           SELECT e.src FROM edges e JOIN reach r ON e.dst = r.x)
         SELECT DISTINCT x FROM reach""",
    "q316_union_disjoint" ->
      s"""WITH triples AS ($T)
         SELECT t1.s AS x, t1.o AS nat, CAST(NULL AS VARCHAR) AS seg
         FROM triples t1
         JOIN triples t2 ON t2.s = t1.s AND t2.p = 'type'
                        AND t2.o = 'Supplier'
         WHERE t1.p = 'nation'
         UNION ALL
         SELECT s, CAST(NULL AS VARCHAR), o FROM triples
         WHERE p = 'segment'""",
    "q86_sparql_parse" ->
      s"""WITH triples AS ($T), labels AS ($L),
         core AS (
           SELECT t1.s AS n, t3.o AS r
           FROM triples t1
           JOIN triples t2 ON t2.s = t1.s AND t2.p = 'type' AND t2.o = 'Place'
           JOIN triples t3 ON t3.s = t1.s AND t3.p = 'region'
           WHERE t1.p = 'region' AND t1.o IN ('R1', 'R2')),
         lab AS (
           SELECT entity, label FROM (
             SELECT entity, label, row_number() OVER (PARTITION BY entity
               ORDER BY CASE lang WHEN 'de' THEN 1 WHEN 'en' THEN 2 END, label) AS rn
             FROM labels WHERE lang IN ('de', 'en'))
           WHERE rn = 1)
         SELECT core.n AS id, coalesce(lab.label, core.n) AS nlabel, core.r AS r,
                CAST(NULL AS VARCHAR) AS missing
         FROM core LEFT JOIN lab ON lab.entity = core.n
         ORDER BY core.n LIMIT 8""",
    "q82_turtle_roundtrip" ->
      s"""WITH triples AS ($T)
         SELECT 'http://g/'||s AS s, 'http://g/p/'||p AS p,
                CASE WHEN p IN ('label','segment') THEN o ELSE 'http://g/'||o END AS o,
                CASE WHEN p IN ('label','segment') THEN 'literal' ELSE 'iri' END AS otype,
                CASE WHEN p = 'label' THEN 'de' END AS olang
         FROM triples""",
    "q79_nquad_format" ->
      // The escape chain mirrors RdfIO.escape (backslash first, then quote
      // and control chars) so the pair cannot diverge if a literal ever
      // carries one; today's triple objects are escape-free.
      s"""WITH triples AS ($T)
         SELECT '<urn:g/'||s||'> <urn:p/'||p||'> "'||
           replace(replace(replace(replace(replace(o,
             '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'), chr(13), '\\r'),
             chr(9), '\\t')
           ||'" .' AS line
         FROM triples""",
    "q14_bgp_europe" ->
      s"""WITH triples AS ($T)
         SELECT ty.s AS c, lb.o AS name, na.o AS n
         FROM triples ty
         JOIN triples na ON na.p='nation' AND na.s=ty.s
         JOIN triples lb ON lb.p='label' AND lb.s=ty.s
         JOIN triples re ON re.p='region' AND re.s=na.o
         JOIN triples rl ON rl.p='label' AND rl.s=re.o AND rl.o='EUROPE'
         WHERE ty.p='type' AND ty.o='Person'""",
    "q15_label_service" ->
      s"""WITH labels AS ($L),
         ents AS (SELECT 'N'||CAST(n_nationkey AS VARCHAR) AS node FROM nation),
         ranked AS (
           SELECT entity, label,
                  row_number() OVER (PARTITION BY entity
                    ORDER BY CASE lang WHEN 'de' THEN 1 WHEN 'en' THEN 2 END, label) AS rn
           FROM labels WHERE lang IN ('de','en'))
         SELECT e.node, coalesce(p.label, e.node) AS label
         FROM ents e LEFT JOIN (SELECT entity, label FROM ranked WHERE rn=1) p
         ON e.node = p.entity""",
    "q16_closure_reach" ->
      s"""WITH RECURSIVE edges AS ($E),
         up AS (
           SELECT 'R'||CAST(r_regionkey AS VARCHAR) AS node FROM region WHERE r_name='EUROPE'
           UNION
           SELECT e.src FROM edges e JOIN up u ON e.dst = u.node)
         SELECT node FROM up""",
    "q17_region_ancestors" ->
      s"""WITH RECURSIVE edges AS ($EN),
         anc AS (
           SELECT src AS node, dst AS anc FROM edges
           UNION
           SELECT a.node, e.dst FROM anc a JOIN edges e ON a.anc = e.src)
         SELECT node, anc AS region FROM anc WHERE anc LIKE 'R%'""",
    "q18_inverse_rule" ->
      s"""WITH triples AS ($T)
         SELECT s, p, o FROM triples WHERE p='region'
         UNION ALL
         SELECT o AS s, 'has_nation' AS p, s AS o FROM triples WHERE p='region'""",
    "q19_provided_mint" ->
      """SELECT 'C'||CAST(c_custkey AS VARCHAR) AS c,
         'urn:prov:'||md5('pfp:'||c_mktsegment) AS provided FROM customer""",
    "q20_timespan_gen" ->
      """WITH o AS (SELECT 'O'||CAST(o_orderkey AS VARCHAR) AS s,
                     o_orderkey % 3 AS prec, o_orderdate AS d FROM orders)
         SELECT s, 'label' AS p,
           CASE prec WHEN 0 THEN strftime(d,'%Y') WHEN 1 THEN strftime(d,'%Y-%m')
                     ELSE strftime(d,'%Y-%m-%d') END AS o FROM o
         UNION ALL SELECT s, 'type', 'E52_Time-Span' FROM o
         UNION ALL SELECT s, 'begin',
           CASE prec WHEN 0 THEN strftime(d,'%Y')||'-01-01T00:00:00'
                     WHEN 1 THEN strftime(d,'%Y-%m')||'-01T00:00:00'
                     ELSE strftime(d,'%Y-%m-%d')||'T00:00:00' END FROM o
         UNION ALL SELECT s, 'end',
           CASE prec WHEN 0 THEN strftime(d,'%Y')||'-12-31T23:59:59'
                     WHEN 1 THEN strftime(last_day(CAST(d AS DATE)),'%Y-%m-%d')||'T23:59:59'
                     ELSE strftime(d,'%Y-%m-%d')||'T23:59:59' END FROM o""",
    "q21_render_person" ->
      """WITH c AS (SELECT 'C'||CAST(c_custkey AS VARCHAR) AS s, c_name,
                     c_nationkey, c_acctbal FROM customer)
         SELECT s, 'type' AS p, 'E21_Person' AS o FROM c
         UNION ALL SELECT s, 'label', c_name FROM c
         UNION ALL SELECT s, 'appellation', 'App: '||c_name FROM c
         UNION ALL SELECT s, 'nation', 'N'||CAST(c_nationkey AS VARCHAR) FROM c
         UNION ALL SELECT s, 'status', 'active' FROM c WHERE c_acctbal > 0""",
    "q22_wkt_points" ->
      """SELECT 'S'||CAST(s_suppkey AS VARCHAR) AS s, 'space_primitive' AS p,
         'Point ( '||
           (CASE WHEN s_nationkey - 12 >= 0 THEN '+'||CAST(s_nationkey - 12 AS VARCHAR)
                 ELSE CAST(s_nationkey - 12 AS VARCHAR) END)||' '||
           (CASE WHEN s_suppkey % 90 >= 0 THEN '+'||CAST(s_suppkey % 90 AS VARCHAR)
                 ELSE CAST(s_suppkey % 90 AS VARCHAR) END)||' )' AS o
         FROM supplier"""
  )
}
