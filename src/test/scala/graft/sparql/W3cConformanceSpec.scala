package graft.sparql

import graft.{Graft, SharedSpark}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Curated replay of the W3C SPARQL 1.1 evaluation test suite
  * (public, W3C Software License — the shapes, not the files):
  * ~50 hand-adapted cases sampled across the suite's families —
  * algebra/optional-filter (data-r2/algebra, optional-filter),
  * negation (data-sparql11/negation), aggregates (aggregates/agg*),
  * bind (bind/bind*), VALUES (bindings/inline*), subquery
  * (subquery sq-prefixed), property paths (pp-prefixed), functions,
  * construct/ask forms, and solution modifiers.
  * Each case carries the family:test-id it samples in its name.
  *
  * Adaptation, not import: fixtures are re-expressed in the engine's
  * triple relation (s, p, o, o_num, o_is_iri, lang) with short
  * prefixed names, and expected results are binding SETS (order
  * irrelevant unless ORDER BY is under test) — the same judgment the
  * W3C manifests encode. The r10 front-end fuzzer found two real
  * gaps; this is the directed version of that probe against the spec
  * corpus itself.
  */
class W3cConformanceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // the people, orgs and paths fixtures, shared with the triple
  // store's form differential (StoreFormSpec)
  import W3cFixtures.{orgs, paths, people}

  /** Result set as the W3C manifests judge it: a SET of binding maps,
    * unbound variables omitted, numerics canonicalized (integral
    * doubles print as integers — xsd:integer lexical space). The ONE
    * documented adaptation: this engine keeps the reference's
    * OPTIONAL semantics, filling unmatched vars with the bound
    * sentinel "N/A" (Ast.scala Bound scaladoc) — the harness folds
    * that back to unbound so W3C expectations read naturally.
    */
  private def bindings(df: DataFrame): Set[Map[String, String]] = {
    val cols = df.columns
    df.collect().map { (r: Row) =>
      cols.indices.flatMap { i =>
        if (r.isNullAt(i) || r.get(i) == "N/A") None
        else Some(cols(i) -> (r.get(i) match {
          case d: java.lang.Double
            if d.doubleValue == math.floor(d.doubleValue) &&
              !d.isInfinite => d.longValue.toString
          case x => x.toString
        }))
      }.toMap
    }.toSet
  }

  private def run(data: DataFrame, q: String): Set[Map[String, String]] =
    bindings(Graft.sparql(data, q))

  private def b(kv: (String, String)*): Map[String, String] = kv.toMap

  // ---- algebra / basic graph patterns ------------------------------

  test("algebra:join-combo — BGP join on shared subject") {
    assert(run(people,
      "SELECT ?x ?n WHERE { ?x rdf:type :Person . ?x :name ?n . ?x :mbox ?m }") ==
      Set(b("x" -> "p:alice", "n" -> "Alice"), b("x" -> "p:bob", "n" -> "Bob")))
  }

  test("algebra:filter-nested-2 — FILTER inside a group constrains it") {
    assert(run(people,
      "SELECT ?x WHERE { ?x :age ?a . FILTER(?a > 28 && ?a < 35) }") ==
      Set(b("x" -> "p:alice")))
  }

  test("algebra:filter-scope-1 — FILTER sees OPTIONAL bindings") {
    assert(run(people,
      "SELECT ?x WHERE { ?x :name ?n OPTIONAL { ?x :mbox ?m } FILTER(BOUND(?m)) }") ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob")))
  }

  // ---- optional / optional-filter ----------------------------------

  test("optional:complex-1 — unbound optional var is omitted") {
    assert(run(people,
      "SELECT ?n ?m WHERE { ?x rdf:type :Person . ?x :name ?n OPTIONAL { ?x :mbox ?m } }") ==
      Set(b("n" -> "Alice", "m" -> "mailto:alice@work.example"),
        b("n" -> "Bob", "m" -> "mailto:bob@work.example"),
        b("n" -> "Carol")))
  }

  test("optional-filter:dawg-optional-filter-001 — filter INSIDE the optional") {
    assert(run(people,
      "SELECT ?n ?a WHERE { ?x :name ?n OPTIONAL { ?x :age ?a FILTER(?a > 28) } }") ==
      Set(b("n" -> "Alice", "a" -> "30"), b("n" -> "Bob", "a" -> "40"),
        b("n" -> "Carol"), b("n" -> "Dave")))
  }

  test("optional:nested-opt-1 — two optionals chain independently") {
    assert(run(people,
      "SELECT ?n ?m ?a WHERE { ?x :name ?n OPTIONAL { ?x :mbox ?m } OPTIONAL { ?x :age ?a } }") ==
      Set(
        b("n" -> "Alice", "m" -> "mailto:alice@work.example", "a" -> "30"),
        b("n" -> "Bob", "m" -> "mailto:bob@work.example", "a" -> "40"),
        b("n" -> "Carol", "a" -> "25"),
        b("n" -> "Dave")))
  }

  // ---- negation (data-sparql11/negation) ---------------------------

  test("negation:subset-by-exclusion-nex-1 — NOT EXISTS") {
    assert(run(people,
      "SELECT ?x WHERE { ?x rdf:type :Person . FILTER NOT EXISTS { ?x :mbox ?m } }") ==
      Set(b("x" -> "p:carol")))
  }

  test("negation:exists-01 — EXISTS keeps rows with the pattern") {
    assert(run(people,
      "SELECT ?x WHERE { ?x rdf:type :Person . FILTER EXISTS { ?x :mbox ?m } }") ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob")))
  }

  test("negation:full-minuend — MINUS removes compatible solutions") {
    assert(run(people,
      "SELECT ?x WHERE { ?x rdf:type :Person MINUS { ?x :mbox ?m } }") ==
      Set(b("x" -> "p:carol")))
  }

  test("negation:minus-disjoint — MINUS with no shared vars removes nothing") {
    // W3C full-minuend variant: disjoint domains are never compatible
    assert(run(people,
      "SELECT ?x WHERE { ?x rdf:type :Robot MINUS { ?y :mbox ?m } }") ==
      Set(b("x" -> "p:dave")))
  }

  // ---- aggregates (agg01-agg08 shapes) -----------------------------

  test("aggregates:agg01 — COUNT grouped") {
    assert(run(orgs,
      "SELECT ?org (COUNT(?emp) AS ?n) WHERE { ?org :affiliates ?dep . ?dep :employee ?emp } GROUP BY ?org") ==
      Set(b("org" -> "o:org1", "n" -> "3"), b("org" -> "o:org2", "n" -> "1")))
  }

  test("aggregates:agg04 — COUNT(*) ungrouped over the whole pattern") {
    assert(run(orgs,
      "SELECT (COUNT(*) AS ?n) WHERE { ?dep :employee ?emp }") ==
      Set(b("n" -> "4")))
  }

  test("aggregates:agg08 — grouped SUM with HAVING prunes groups") {
    assert(run(orgs,
      "SELECT ?dep (SUM(?s) AS ?tot) WHERE { ?dep :employee ?e . ?e :salary ?s } GROUP BY ?dep HAVING (SUM(?s) > 250)") ==
      Set(b("dep" -> "o:dep1", "tot" -> "300"),
        b("dep" -> "o:dep2", "tot" -> "300"),
        b("dep" -> "o:dep3", "tot" -> "400")))
  }

  test("aggregates:agg-min-max — MIN and MAX in one projection") {
    assert(run(orgs,
      "SELECT (MIN(?s) AS ?lo) (MAX(?s) AS ?hi) WHERE { ?e :salary ?s }") ==
      Set(b("lo" -> "100", "hi" -> "400")))
  }

  test("aggregates:agg-avg-01 — AVG over the group") {
    assert(run(orgs,
      "SELECT (AVG(?s) AS ?m) WHERE { ?e :salary ?s }") ==
      Set(b("m" -> "250")))
  }

  test("aggregates:agg-groupconcat-1 — GROUP_CONCAT with separator") {
    val got = run(orgs,
      "SELECT ?dep (GROUP_CONCAT(?e ; SEPARATOR=\",\") AS ?es) WHERE { ?dep :employee ?e } GROUP BY ?dep")
    // concat order is engine-chosen; compare as member sets
    val norm = got.map(m => m.updated("es",
      m("es").split(",").sorted.mkString(",")))
    assert(norm == Set(
      b("dep" -> "o:dep1", "es" -> "o:emp1,o:emp2"),
      b("dep" -> "o:dep2", "es" -> "o:emp3"),
      b("dep" -> "o:dep3", "es" -> "o:emp4")))
  }

  test("aggregates:agg-sample-01 — SAMPLE draws a group member") {
    val got = run(orgs,
      "SELECT ?dep (SAMPLE(?e) AS ?one) WHERE { ?dep :employee ?e } GROUP BY ?dep")
    assert(got.size == 3)
    assert(got.forall(m => m("one").startsWith("o:emp")))
  }

  test("aggregates:group04 — GROUP BY an expression with AS") {
    assert(run(orgs,
      "SELECT ?b (COUNT(?e) AS ?n) WHERE { ?e :salary ?s } GROUP BY (FLOOR(?s / 200) AS ?b)") ==
      Set(b("b" -> "0", "n" -> "1"), b("b" -> "1", "n" -> "2"),
        b("b" -> "2", "n" -> "1")))
  }

  test("aggregates:count-distinct — COUNT(DISTINCT ?v)") {
    assert(run(people,
      "SELECT (COUNT(DISTINCT ?t) AS ?n) WHERE { ?x rdf:type ?t }") ==
      Set(b("n" -> "2")))
  }

  // ---- bind (bind01-bind08 shapes) ---------------------------------

  test("bind:bind01 — BIND computes a new variable") {
    assert(run(people,
      "SELECT ?n ?a2 WHERE { ?x :name ?n . ?x :age ?a BIND(?a + 1 AS ?a2) FILTER(?a2 > 35) }") ==
      Set(b("n" -> "Bob", "a2" -> "41")))
  }

  test("bind:bind05 — BIND result joins with later patterns") {
    assert(run(people,
      "SELECT ?x WHERE { ?x :age ?a BIND(?a * 2 AS ?d) FILTER(?d = 50) }") ==
      Set(b("x" -> "p:carol")))
  }

  // ---- VALUES (bindings/inline*) -----------------------------------

  test("bindings:inline1 — VALUES restricts solutions") {
    assert(run(people,
      "SELECT ?x ?n WHERE { ?x :name ?n VALUES ?x { <p:alice> <p:carol> } }") ==
      Set(b("x" -> "p:alice", "n" -> "Alice"),
        b("x" -> "p:carol", "n" -> "Carol")))
  }

  // ---- subquery (sq* shapes) ---------------------------------------

  test("subquery:sq11 — inner aggregate feeds the outer pattern") {
    assert(run(orgs,
      """SELECT ?dep ?hi WHERE {
        |  ?dep :employee ?e . ?e :salary ?hi
        |  { SELECT (MAX(?s) AS ?hi) WHERE { ?e2 :salary ?s } }
        |}""".stripMargin) ==
      Set(b("dep" -> "o:dep3", "hi" -> "400")))
  }

  // ---- property paths (pp* shapes) ---------------------------------

  test("property-path:pp03 — simple sequence path") {
    assert(run(paths, "SELECT ?y WHERE { <n:a> :q/:r ?y }") ==
      Set(b("y" -> "n:f")))
  }

  test("property-path:pp07 — plus closure reaches all, terminates on cycle") {
    assert(run(paths, "SELECT ?y WHERE { <n:a> :p+ ?y }") ==
      Set(b("y" -> "n:a"), b("y" -> "n:b"), b("y" -> "n:c"), b("y" -> "n:d")))
  }

  test("property-path:pp28a — star closure includes the zero-hop subject") {
    val got = run(paths, "SELECT ?y WHERE { <n:b> :p* ?y }")
    assert(got.contains(b("y" -> "n:b")), "zero-length path must bind the subject itself")
    assert(got == Set(b("y" -> "n:a"), b("y" -> "n:b"), b("y" -> "n:c"), b("y" -> "n:d")))
  }

  test("property-path:pp08 — zero-or-one binds subject and one hop") {
    assert(run(paths, "SELECT ?y WHERE { <n:a> :q? ?y }") ==
      Set(b("y" -> "n:a"), b("y" -> "n:e")))
  }

  test("property-path:pp10 — inverse path flips direction") {
    // ?x ^:p <n:a>  ≡  <n:a> :p ?x  → the forward edge a→b
    assert(run(paths, "SELECT ?x WHERE { ?x ^:p <n:a> }") ==
      Set(b("x" -> "n:b")))
  }

  test("property-path:pp12 — alternative under closure") {
    assert(run(paths, "SELECT ?y WHERE { <n:a> (:q|:r)+ ?y }") ==
      Set(b("y" -> "n:e"), b("y" -> "n:f")))
  }

  test("property-path:pp37 — negated property set") {
    assert(run(paths, "SELECT ?y WHERE { <n:a> !(:p|:s) ?y }") ==
      Set(b("y" -> "n:e")))
  }

  test("property-path:pp-range — {n,m} bounded repetition") {
    assert(run(paths, "SELECT ?y WHERE { <n:a> :p{2,3} ?y }") ==
      Set(b("y" -> "n:c"), b("y" -> "n:d")))
  }

  // ---- functions family ----------------------------------------

  test("functions:strlen-ucase-lcase") {
    assert(run(people,
      "SELECT ?n (STRLEN(?n) AS ?l) (UCASE(?n) AS ?u) WHERE { <p:alice> :name ?n }") ==
      Set(b("n" -> "Alice", "l" -> "5", "u" -> "ALICE")))
  }

  test("functions:substr — 1-based start with length") {
    assert(run(people,
      "SELECT (SUBSTR(?n, 2, 3) AS ?sub) WHERE { <p:alice> :name ?n }") ==
      Set(b("sub" -> "lic")))
  }

  test("functions:strbefore-strafter") {
    assert(run(people,
      "SELECT (STRBEFORE(?n, \"o\") AS ?pre) (STRAFTER(?n, \"o\") AS ?post) WHERE { <p:bob> :name ?n }") ==
      Set(b("pre" -> "B", "post" -> "b")))
  }

  test("functions:concat-if-coalesce") {
    assert(run(people,
      """SELECT ?n (CONCAT(?n, "!") AS ?c) (IF(?a > 35, "old", "young") AS ?k)
        |WHERE { ?x :name ?n . ?x :age ?a FILTER(?a >= 30) }""".stripMargin) ==
      Set(b("n" -> "Alice", "c" -> "Alice!", "k" -> "young"),
        b("n" -> "Bob", "c" -> "Bob!", "k" -> "old")))
  }

  test("functions:replace01") {
    assert(run(people,
      "SELECT (REPLACE(?n, \"l\", \"L\") AS ?r) WHERE { <p:alice> :name ?n }") ==
      Set(b("r" -> "ALice")))
  }

  test("functions:abs-ceil-floor-round") {
    assert(run(people,
      """SELECT (ABS(?a - 33) AS ?ab) (CEIL(?a / 7) AS ?ce)
        |       (FLOOR(?a / 7) AS ?fl) (ROUND(?a / 7) AS ?ro)
        |WHERE { <p:alice> :age ?a }""".stripMargin) ==
      Set(b("ab" -> "3", "ce" -> "5", "fl" -> "4", "ro" -> "4")))
  }

  test("functions:strstarts-strends-contains") {
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER(STRSTARTS(?n, "C") || (CONTAINS(?n, "o") && STRENDS(?n, "b"))) }""".stripMargin) ==
      Set(b("n" -> "Bob"), b("n" -> "Carol")))
  }

  test("functions:lang-langmatches — language-tagged literals") {
    assert(run(people,
      "SELECT ?g WHERE { <p:alice> :greeting ?g FILTER LANGMATCHES(LANG(?g), \"fr\") }") ==
      Set(b("g" -> "Bonjour")))
  }

  test("functions:str-on-iri — STR() unwraps an IRI for string ops") {
    assert(run(people,
      "SELECT ?x WHERE { ?x :mbox ?m FILTER STRSTARTS(STR(?m), \"mailto:alice\") }") ==
      Set(b("x" -> "p:alice")))
  }

  test("functions:in-not-in") {
    assert(run(people,
      "SELECT ?x WHERE { ?x rdf:type :Person FILTER(?x IN (<p:alice>, <p:dave>)) }") ==
      Set(b("x" -> "p:alice")))
    assert(run(people,
      "SELECT ?x WHERE { ?x rdf:type :Person FILTER(?x NOT IN (<p:alice>, <p:bob>)) }") ==
      Set(b("x" -> "p:carol")))
  }

  test("functions:regex — case-insensitive flag") {
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n FILTER REGEX(?n, \"^al\", \"i\") }") ==
      Set(b("n" -> "Alice")))
  }

  test("functions:encode01 — ENCODE_FOR_URI percent-encodes reserved chars") {
    assert(run(people,
      """SELECT (ENCODE_FOR_URI("a b/c") AS ?e) WHERE { <p:alice> :name ?n }""") ==
      Set(b("e" -> "a%20b%2Fc")))
  }

  /** functions family: date/time fixtures (hours/tz/timezone shapes),
    * covering both lexical separators ('T' and the triple view's ' ')
    * and a date-only literal for the type-error cases.
    */
  private lazy val times: DataFrame = Seq(
    ("e:a", ":when", "2010-06-21T11:28:01Z", Option.empty[Double], false, Option.empty[String]),
    ("e:b", ":when", "2010-12-21 23:59:59.5-08:00", None, false, None),
    ("e:c", ":when", "2011-01-10T14:45:13.815+05:30", None, false, None),
    ("e:d", ":when", "2002-10-10", None, false, None))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  test("functions:year-month-day-hours-minutes-seconds") {
    assert(run(times,
      """SELECT (YEAR(?d) AS ?y) (MONTH(?d) AS ?mo) (DAY(?d) AS ?dy)
        |       (HOURS(?d) AS ?h) (MINUTES(?d) AS ?mi) (SECONDS(?d) AS ?s)
        |WHERE { <e:a> :when ?d }""".stripMargin) ==
      Set(b("y" -> "2010", "mo" -> "6", "dy" -> "21",
        "h" -> "11", "mi" -> "28", "s" -> "1")))
    // space-separated lexical (the triple view's timestamp cast) and
    // fractional SECONDS (xsd:decimal per the spec)
    assert(run(times,
      "SELECT (HOURS(?d) AS ?h) (SECONDS(?d) AS ?s) WHERE { <e:b> :when ?d }") ==
      Set(b("h" -> "23", "s" -> "59.5")))
    // time accessors on a date-only literal are type errors → unbound
    assert(run(times,
      "SELECT (YEAR(?d) AS ?y) (HOURS(?d) AS ?h) WHERE { <e:d> :when ?d }") ==
      Set(b("y" -> "2002")))
  }

  test("functions:tz-timezone01") {
    assert(run(times,
      "SELECT ?x (TZ(?d) AS ?tz) WHERE { ?x :when ?d }") ==
      Set(b("x" -> "e:a", "tz" -> "Z"), b("x" -> "e:b", "tz" -> "-08:00"),
        b("x" -> "e:c", "tz" -> "+05:30"), b("x" -> "e:d", "tz" -> "")))
    // TIMEZONE canonicalizes to xsd:dayTimeDuration; zoneless → error
    assert(run(times,
      "SELECT ?x (TIMEZONE(?d) AS ?du) WHERE { ?x :when ?d }") ==
      Set(b("x" -> "e:a", "du" -> "PT0S"), b("x" -> "e:b", "du" -> "-PT8H"),
        b("x" -> "e:c", "du" -> "PT5H30M"), b("x" -> "e:d")))
    // +00:00 canonicalizes like Z
    assert(run(times,
      """SELECT (TIMEZONE("2010-06-21T11:28:01+00:00") AS ?du)
        |WHERE { <e:a> :when ?d }""".stripMargin) ==
      Set(b("du" -> "PT0S")))
  }

  test("functions:now01 — query-constant well-formed dateTime") {
    val rows = Graft.sparql(times,
      "SELECT ?x (NOW() AS ?now) WHERE { ?x :when ?d }").collect()
    assert(rows.length == 4)
    val vals = rows.map(_.getAs[String]("now")).toSet
    assert(vals.size == 1) // same value for every call in the query
    assert(vals.head.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d+)?"""))
  }

  test("functions:datetime-in-filter — YEAR composes with FILTER") {
    assert(run(times,
      "SELECT ?x WHERE { ?x :when ?d FILTER(YEAR(?d) >= 2010 && MONTH(?d) < 7) }") ==
      Set(b("x" -> "e:a"), b("x" -> "e:c")))
  }

  test("negation:exists-in-expression — EXISTS composes with && / || / !") {
    // alice has an mbox AND age>25; carol has age<=40 but no mbox
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n . ?x :age ?a
        |  FILTER(EXISTS { ?x :mbox ?m } && ?a > 25) }""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Bob")))
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n . ?x :age ?a
        |  FILTER(!EXISTS { ?x :mbox ?m } || ?a < 35) }""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Carol")))
    // disjoint-vars EXISTS is query-constant (a Robot exists → true)
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n . ?x :age ?a
        |  FILTER(EXISTS { ?z rdf:type :Robot } && ?a >= 40) }""".stripMargin) ==
      Set(b("n" -> "Bob")))
    // NOT EXISTS operand beside a second EXISTS operand
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER(NOT EXISTS { ?x :mbox ?m } && EXISTS { ?x :age ?a }) }""".stripMargin) ==
      Set(b("n" -> "Carol")))
  }

  test("negation:exists-group-body — EXISTS bodies are full group patterns") {
    // inner FILTER applies inside the EXISTS side
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER EXISTS { ?x :age ?a FILTER(?a > 35) } }""".stripMargin) ==
      Set(b("n" -> "Bob")))
    // UNION inside a NOT EXISTS body
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n . ?x rdf:type :Person
        |  FILTER NOT EXISTS {
        |    { ?x :mbox ?m } UNION { ?x :knows <p:dave> } } }""".stripMargin) ==
      Set())
    // (alice/bob have mboxes; carol knows dave — nobody survives)
  }

  test("bindings:inline2 — VALUES with UNDEF joins by compatibility") {
    // each row constrains only its bound cells (§10.2.2)
    assert(run(people,
      """SELECT ?x ?n WHERE {
        |  ?x :name ?n .
        |  VALUES (?x ?n) { (<p:alice> UNDEF) (UNDEF "Bob") }
        |}""".stripMargin) ==
      Set(b("x" -> "p:alice", "n" -> "Alice"),
        b("x" -> "p:bob", "n" -> "Bob")))
    // multiset semantics: the UNDEF row re-admits alice, so she
    // appears twice among the four solutions
    val df = Graft.sparql(people,
      "SELECT ?x ?a WHERE { ?x :age ?a VALUES ?x { <p:alice> UNDEF } }")
    assert(df.count() == 4)
    assert(df.filter("x = 'p:alice'").count() == 2)
    // VALUES preceding the pattern behaves identically
    assert(run(people,
      """SELECT ?x ?n WHERE {
        |  VALUES (?x ?n) { (UNDEF "Carol") }
        |  ?x :name ?n .
        |}""".stripMargin) == Set(b("x" -> "p:carol", "n" -> "Carol")))
  }

  test("describe:multi-target — constants and variables union-describe") {
    // p:alice (7 out, 0 in) + ?y → p:bob (5 out, 1 in: alice knows him)
    val df = Graft.query(people,
      "DESCRIBE <p:alice> ?y WHERE { <p:alice> :knows ?y }")
    assert(df.count() == 13)
    assert(df.filter("dir = 'in'").count() == 1)
    // a variable with no WHERE pattern binds nothing
    assert(Graft.query(people, "DESCRIBE ?x").count() == 0)
    // duplicate targets (constant also bound by the pattern) dedup
    val dup = Graft.query(people,
      "DESCRIBE <p:bob> ?y WHERE { <p:alice> :knows ?y }")
    assert(dup.count() == 6)
  }

  test("functions:md5-01 — MD5 of a plain literal") {
    assert(run(people,
      """SELECT (MD5("abc") AS ?h) WHERE { <p:alice> :name ?n }""") ==
      Set(b("h" -> "900150983cd24fb0d6963f7d28e17f72")))
  }

  test("functions:iri01 — a minted IRI passes isIRI") {
    assert(run(people,
      """SELECT ?x WHERE { ?x :name ?n BIND(IRI(CONCAT("mint:", ?n)) AS ?i)
        |  FILTER(isIRI(?i) && STRSTARTS(STR(?i), "mint:A")) }""".stripMargin) ==
      Set(b("x" -> "p:alice")))
  }

  test("expr:precedence — multiplication binds tighter than addition") {
    assert(run(people,
      "SELECT (2 + 3 * 4 AS ?v) WHERE { <p:alice> :name ?n }") ==
      Set(b("v" -> "14")))
  }

  test("aggregates:sum-distinct — duplicate values collapse") {
    import spark.implicits._
    val dup = Seq(
      ("e:1", ":pay", "400", Some(400.0), false, Option.empty[String]),
      ("e:2", ":pay", "400", Some(400.0), false, None),
      ("e:3", ":pay", "100", Some(100.0), false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(run(dup,
      "SELECT (SUM(DISTINCT ?v) AS ?t) (SUM(?v) AS ?all) WHERE { ?e :pay ?v }") ==
      Set(b("t" -> "500", "all" -> "900")))
  }

  test("negation:minus-with-pattern — MINUS over a two-triple pattern") {
    // remove persons who know someone that has a mbox (only alice
    // knows bob, who has one)
    assert(run(people,
      """SELECT ?x WHERE { ?x rdf:type :Person
        |  MINUS { ?x :knows ?y . ?y :mbox ?m } }""".stripMargin) ==
      Set(b("x" -> "p:bob"), b("x" -> "p:carol")))
  }

  // ---- solution modifiers ------------------------------------------

  test("modifiers:order-by-desc-limit — deterministic top slice") {
    val df = Graft.sparql(people,
      "SELECT ?n WHERE { ?x :name ?n . ?x :age ?a } ORDER BY DESC(?a) LIMIT 2")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("Bob", "Alice"))
  }

  test("modifiers:offset — skips the sorted prefix") {
    val df = Graft.sparql(people,
      "SELECT ?n WHERE { ?x :name ?n . ?x :age ?a } ORDER BY DESC(?a) OFFSET 1 LIMIT 2")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("Alice", "Carol"))
  }

  test("modifiers:distinct-star — DISTINCT collapses duplicate rows") {
    assert(run(people,
      "SELECT DISTINCT ?t WHERE { ?x rdf:type ?t }") ==
      Set(b("t" -> ":Person"), b("t" -> ":Robot")))
  }

  test("modifiers:order-by-expr — sort key is an expression") {
    val df = Graft.sparql(people,
      "SELECT ?n WHERE { ?x :name ?n . ?x :age ?a } ORDER BY (35 - ?a)")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("Bob", "Alice", "Carol"))
  }

  test("modifiers:order-mixed — DESC primary with ASC tiebreak") {
    val df = Graft.sparql(people,
      "SELECT ?n WHERE { ?x :name ?n . ?x rdf:type ?t } ORDER BY DESC(?t) ?n")
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("Dave", "Alice", "Bob", "Carol"))
  }

  // ---- union -------------------------------------------------------

  test("algebra:union — branches merge, vars align by name") {
    assert(run(people,
      "SELECT ?v WHERE { { <p:alice> :name ?v } UNION { <p:alice> :age ?v } }") ==
      Set(b("v" -> "Alice"), b("v" -> "30")))
  }

  // ---- ask / construct forms ---------------------------------------

  test("ask:ask-1 — true and false cases") {
    val yes = Graft.query(people, "ASK { <p:alice> :name \"Alice\" }")
    val no = Graft.query(people, "ASK { <p:alice> :name \"Zelda\" }")
    assert(yes.collect().head.getBoolean(0))
    assert(!no.collect().head.getBoolean(0))
  }

  test("construct:construct-where — template rewrites matched triples") {
    val out = Graft.query(people,
      "CONSTRUCT { ?x :label ?n } WHERE { ?x :name ?n . ?x rdf:type :Robot }")
    val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("p:dave", ":label", "Dave")))
  }

  // ---- expression edge semantics -----------------------------------

  test("functions:coalesce01 — first bound value wins (adapted to the N/A fill)") {
    // W3C COALESCE(?m, "none") yields "none" for an UNBOUND ?m; this
    // engine follows the reference's OPTIONAL fill, where the
    // unmatched var carries the bound sentinel "N/A" — so COALESCE
    // sees a bound value and passes it through (the harness then
    // folds it to unbound). The fallback branch is exercised via a
    // var that is never in scope at all.
    assert(run(people,
      """SELECT ?n (COALESCE(?m, "none") AS ?mm)
        |WHERE { ?x rdf:type :Person . ?x :name ?n OPTIONAL { ?x :mbox ?m } }""".stripMargin) ==
      Set(b("n" -> "Alice", "mm" -> "mailto:alice@work.example"),
        b("n" -> "Bob", "mm" -> "mailto:bob@work.example"),
        b("n" -> "Carol")))
  }

  test("algebra:filter-equality — = compares numerically via the companion") {
    assert(run(people,
      "SELECT ?x WHERE { ?x :age ?a FILTER(?a = 30) }") ==
      Set(b("x" -> "p:alice")))
  }

  test("algebra:var-compare — two-variable numeric comparison") {
    assert(run(people,
      "SELECT ?x ?y WHERE { ?x :age ?a . ?y :age ?b FILTER(?a < ?b) }") ==
      Set(b("x" -> "p:alice", "y" -> "p:bob"),
        b("x" -> "p:carol", "y" -> "p:alice"),
        b("x" -> "p:carol", "y" -> "p:bob")))
  }

  // ---- r12 batch 2: EXISTS scoping (§18.6), aggregate corners
  // (§18.5), path edges (§9.3), final VALUES (§18.2.4.2) -------------

  test("negation:exists-02 — body-only vars are existential, joins apply inside") {
    // knows someone WITH an mbox: only alice (bob has one)
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER EXISTS { ?x :knows ?y . ?y :mbox ?m } }""".stripMargin) ==
      Set(b("n" -> "Alice")))
  }

  test("negation:nested-exists — EXISTS inside an EXISTS body") {
    // knows someone with an age: alice→bob(40), bob→carol(25);
    // carol→dave has no age, dave knows nobody
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER EXISTS { ?x :knows ?y FILTER EXISTS { ?y :age ?a } } }""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Bob")))
  }

  test("negation:not-exists-optional-body — OPTIONAL in the body never fails it") {
    // the body matches iff ?x knows anyone (the OPTIONAL can't fail);
    // only dave knows nobody
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER NOT EXISTS { ?x :knows ?y OPTIONAL { ?y :age ?a } } }""".stripMargin) ==
      Set(b("n" -> "Dave")))
  }

  test("negation:exists-inside-optional — filter scopes to the optional group") {
    // mbox binds only for people who ALSO have an age (alice, bob)
    assert(run(people,
      """SELECT ?n ?m WHERE { ?x :name ?n
        |  OPTIONAL { ?x :mbox ?m FILTER EXISTS { ?x :age ?a } } }""".stripMargin) ==
      Set(b("n" -> "Alice", "m" -> "mailto:alice@work.example"),
        b("n" -> "Bob", "m" -> "mailto:bob@work.example"),
        b("n" -> "Carol"), b("n" -> "Dave")))
  }

  test("negation:subtract-01-02 — disjoint MINUS keeps what NOT EXISTS drops") {
    // §8.3.3: MINUS with no shared vars removes nothing; NOT EXISTS
    // over the same non-empty pattern removes everything
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n . ?x rdf:type :Robot MINUS { ?y :age ?b } }") ==
      Set(b("n" -> "Dave")))
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n . ?x rdf:type :Robot
        |  FILTER NOT EXISTS { ?y :age ?b } }""".stripMargin) == Set())
  }

  test("aggregates:agg-empty-group2 — ungrouped COUNT over no solutions is 0") {
    assert(run(people,
      "SELECT (COUNT(?x) AS ?c) WHERE { ?x rdf:type :Unicorn }") ==
      Set(b("c" -> "0")))
  }

  test("aggregates:sum-avg-empty — Sum({}) = Avg({}) = 0, per §18.5.1") {
    assert(run(people,
      "SELECT (SUM(?a) AS ?s) WHERE { ?x rdf:type :Unicorn . ?x :age ?a }") ==
      Set(b("s" -> "0")))
    assert(run(people,
      "SELECT (AVG(?a) AS ?av) WHERE { ?x rdf:type :Unicorn . ?x :age ?a }") ==
      Set(b("av" -> "0")))
  }

  test("aggregates:min-max-empty — MIN/MAX over no solutions are unbound") {
    assert(run(people,
      "SELECT (MAX(?a) AS ?m) WHERE { ?x rdf:type :Unicorn . ?x :age ?a }") ==
      Set(b()))
  }

  test("aggregates:group-concat-empty — GroupConcat({}) is the empty string") {
    assert(run(people,
      "SELECT (GROUP_CONCAT(?n) AS ?g) WHERE { ?x rdf:type :Unicorn . ?x :name ?n }") ==
      Set(b("g" -> "")))
  }

  test("aggregates:grouped-empty — GROUP BY over no solutions yields no groups") {
    assert(run(people,
      """SELECT ?x (COUNT(?n) AS ?c) WHERE { ?x rdf:type :Unicorn . ?x :name ?n }
        |GROUP BY ?x""".stripMargin) == Set())
  }

  test("aggregates:count-optional — COUNT(?v) skips unbound, COUNT(*) keeps the row") {
    // carol's knows-target (dave) has no age → the OPTIONAL leaves ?y
    // unbound; unbound is removed from COUNT(?y)'s multiset (§18.5)
    // but the solution row itself still counts under COUNT(*)
    val q =
      """SELECT ?n (COUNT(?y) AS ?c) WHERE { ?x :name ?n . ?x rdf:type :Person
        |  OPTIONAL { ?x :knows ?y . ?y :age ?a } } GROUP BY ?n""".stripMargin
    assert(run(people, q) ==
      Set(b("n" -> "Alice", "c" -> "1"), b("n" -> "Bob", "c" -> "1"),
        b("n" -> "Carol", "c" -> "0")))
    assert(run(people, q.replace("COUNT(?y)", "COUNT(*)")) ==
      Set(b("n" -> "Alice", "c" -> "1"), b("n" -> "Bob", "c" -> "1"),
        b("n" -> "Carol", "c" -> "1")))
  }

  test("aggregates:agg-avg-expr — AVG over an arithmetic expression") {
    assert(run(orgs,
      "SELECT (AVG(?s * 2) AS ?av) WHERE { ?e :salary ?s }") ==
      Set(b("av" -> "500")))
  }

  test("aggregates:group-by-two-keys") {
    assert(run(orgs,
      """SELECT ?o ?d (COUNT(?e) AS ?c)
        |WHERE { ?o :affiliates ?d . ?d :employee ?e } GROUP BY ?o ?d""".stripMargin) ==
      Set(b("o" -> "o:org1", "d" -> "o:dep1", "c" -> "2"),
        b("o" -> "o:org1", "d" -> "o:dep2", "c" -> "1"),
        b("o" -> "o:org2", "d" -> "o:dep3", "c" -> "1")))
  }

  test("property-path:pp-range-zero — {0,n} includes the zero-hop identity") {
    assert(run(paths, "SELECT ?y WHERE { n:a :p{0,2} ?y }") ==
      Set(b("y" -> "n:a"), b("y" -> "n:b"), b("y" -> "n:c")))
  }

  test("property-path:pp-range-exact — {n} is exactly n hops") {
    assert(run(paths, "SELECT ?y WHERE { n:a :p{2} ?y }") ==
      Set(b("y" -> "n:c")))
  }

  test("property-path:pp-inverse-seq — ^p/^p climbs two levels upstream") {
    // c's parent is d (c:p:d read inverse), d's parent is a
    assert(run(paths, "SELECT ?x WHERE { ?x ^:p/^:p n:c }") ==
      Set(b("x" -> "n:a")))
  }

  test("property-path:pp-seq-star-mixed — (p/^p)* stays at the subject here") {
    // every node has exactly one :p-parent, so p/^p is the identity
    assert(run(paths, "SELECT ?y WHERE { n:a (:p/^:p)* ?y }") ==
      Set(b("y" -> "n:a")))
  }

  test("property-path:pp-negated-set — !(p|q) takes the remaining edge") {
    assert(run(paths, "SELECT ?y WHERE { n:a !(:p|:q) ?y }") ==
      Set(b("y" -> "lit1")))
  }

  test("property-path:pp-alt-plus — closure over an alternation") {
    // :p closure cycles through b,c,d back to a; :q adds e
    assert(run(paths, "SELECT ?y WHERE { n:a (:p|:q)+ ?y }") ==
      Set(b("y" -> "n:a"), b("y" -> "n:b"), b("y" -> "n:c"),
        b("y" -> "n:d"), b("y" -> "n:e")))
  }

  test("property-path:pp-zeroone-literal — zero-length path relates a literal to itself") {
    // §9.3: zero-length paths relate ANY term, literals included
    assert(run(paths, """SELECT ?x WHERE { ?x :p? "lit1" }""") ==
      Set(b("x" -> "lit1")))
  }

  test("property-path:pp-prefixed-seq-mod — PREFIX expansion reaches (p/q)+ paths") {
    // regression: the prefix rewrite used to MatchError on the
    // parenthesized-sequence-modifier path forms
    assert(run(paths,
      "PREFIX ex: <http://e/> SELECT ?y WHERE { n:a (ex:p/ex:q)+ ?y }") == Set())
    assert(run(paths,
      "PREFIX ex: <http://e/> SELECT ?y WHERE { n:a (ex:p/ex:q){1,2} ?y }") == Set())
  }

  test("functions:if-nested — IF composes as an expression argument") {
    assert(run(people,
      """SELECT ?n ?band WHERE { ?x :name ?n . ?x :age ?a
        |  BIND(IF(?a > 35, "senior", IF(?a > 27, "mid", "junior")) AS ?band) }""".stripMargin) ==
      Set(b("n" -> "Alice", "band" -> "mid"), b("n" -> "Bob", "band" -> "senior"),
        b("n" -> "Carol", "band" -> "junior")))
  }

  test("functions:substr-2arg — SUBSTR without length runs to the end") {
    assert(run(people,
      """SELECT ?t WHERE { ?x :name ?n FILTER(STRSTARTS(?n, "A"))
        |  BIND(SUBSTR(?n, 2) AS ?t) }""".stripMargin) ==
      Set(b("t" -> "lice")))
  }

  test("functions:replace-anchored — REPLACE honors regex anchors") {
    assert(run(people,
      """SELECT ?r WHERE { ?x :name ?n FILTER(?n = "Alice")
        |  BIND(REPLACE(?n, "^A", "@") AS ?r) }""".stripMargin) ==
      Set(b("r" -> "@lice")))
  }

  test("functions:bound-in-if — BOUND drives an IF over an OPTIONAL var") {
    assert(run(people,
      """SELECT ?n ?has WHERE { ?x :name ?n OPTIONAL { ?x :mbox ?m }
        |  BIND(IF(BOUND(?m), "has", "none") AS ?has) }""".stripMargin) ==
      Set(b("n" -> "Alice", "has" -> "has"), b("n" -> "Bob", "has" -> "has"),
        b("n" -> "Carol", "has" -> "none"), b("n" -> "Dave", "has" -> "none")))
  }

  test("bindings:values-clause — query-final VALUES joins the WHERE solutions") {
    assert(run(people,
      """SELECT ?n ?a WHERE { ?x :name ?n . ?x :age ?a }
        |VALUES ?n { "Alice" "Carol" }""".stripMargin) ==
      Set(b("n" -> "Alice", "a" -> "30"), b("n" -> "Carol", "a" -> "25")))
  }

  test("bindings:values-clause-undef — final multi-var VALUES with UNDEF") {
    assert(run(people,
      """SELECT ?n ?a WHERE { ?x :name ?n . ?x :age ?a }
        |VALUES (?n ?a) { ("Alice" 30) ("Bob" UNDEF) }""".stripMargin) ==
      Set(b("n" -> "Alice", "a" -> "30"), b("n" -> "Bob", "a" -> "40")))
  }

  test("subquery:sq-limit — inner ORDER BY/LIMIT feeds the outer pattern") {
    assert(run(people,
      """SELECT ?n WHERE {
        |  { SELECT ?x WHERE { ?x :age ?a } ORDER BY DESC(?a) LIMIT 1 }
        |  ?x :name ?n }""".stripMargin) ==
      Set(b("n" -> "Bob")))
  }

  test("modifiers:limit-zero-offset-past-end — empty slices are empty, not errors") {
    assert(run(people, "SELECT ?n WHERE { ?x :name ?n } LIMIT 0") == Set())
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n } ORDER BY ?n OFFSET 10") == Set())
  }

  test("algebra:union-three-way — three branches merge") {
    assert(run(people,
      """SELECT DISTINCT ?x WHERE {
        |  { ?x rdf:type :Robot } UNION { ?x :mbox ?m } UNION { ?x :greeting ?g }
        |}""".stripMargin) ==
      Set(b("x" -> "p:dave"), b("x" -> "p:alice"), b("x" -> "p:bob")))
  }

  // ---- batch 3: Turtle-style abbreviations & RDF literal forms -----

  test("syntax:object-list — `,` shares the (subject, predicate) pair") {
    assert(run(people,
      """SELECT ?g ?h WHERE { p:alice :greeting ?g , ?h }""") ==
      Set(b("g" -> "Hello", "h" -> "Hello"),
        b("g" -> "Hello", "h" -> "Bonjour"),
        b("g" -> "Bonjour", "h" -> "Hello"),
        b("g" -> "Bonjour", "h" -> "Bonjour")))
  }

  test("syntax:lang-tagged-object — \"x\"@tag matches only that (lexical, tag) term") {
    assert(run(people, """SELECT ?x WHERE { ?x :greeting "Bonjour"@fr }""") ==
      Set(b("x" -> "p:alice")))
    assert(run(people, """SELECT ?x WHERE { ?x :greeting "Bonjour"@en }""") ==
      Set())
  }

  test("syntax:plain-vs-tagged — a plain literal is not its tagged twin") {
    // :name triples carry no tag; :greeting triples all do
    assert(run(people, """SELECT ?x WHERE { ?x :name "Alice" }""") ==
      Set(b("x" -> "p:alice")))
    assert(run(people, """SELECT ?x WHERE { ?x :greeting "Hello" }""") == Set())
  }

  test("syntax:single-quoted-literal — '…' is the same term as \"…\"") {
    assert(run(people, "SELECT ?x WHERE { ?x :name 'Alice' }") ==
      Set(b("x" -> "p:alice")))
  }

  test("syntax:typed-literal — ^^xsd numeric types match by value") {
    assert(run(people, """SELECT ?x WHERE { ?x :age "30"^^xsd:integer }""") ==
      Set(b("x" -> "p:alice")))
    assert(run(people,
      """SELECT ?x WHERE { ?x :age "30"^^<http://www.w3.org/2001/XMLSchema#integer> }""") ==
      Set(b("x" -> "p:alice")))
    // xsd:string is the plain-literal type in RDF 1.1
    assert(run(people, """SELECT ?x WHERE { ?x :name "Alice"^^xsd:string }""") ==
      Set(b("x" -> "p:alice")))
  }

  test("syntax:bnode-proplist-object — [ p o ] nests a fresh existential") {
    assert(run(people, "SELECT ?n WHERE { ?x :knows [ :name ?n ] }") ==
      Set(b("n" -> "Bob"), b("n" -> "Carol"), b("n" -> "Dave")))
  }

  test("syntax:bnode-proplist-subject — a property list stands as subject") {
    assert(run(people, "SELECT ?n ?a WHERE { [ :name ?n ; :age ?a ] }") ==
      Set(b("n" -> "Alice", "a" -> "30"), b("n" -> "Bob", "a" -> "40"),
        b("n" -> "Carol", "a" -> "25")))
  }

  test("syntax:bnode-nested — property lists nest") {
    assert(run(people,
      "SELECT ?n WHERE { ?x :knows [ :knows [ :name ?n ] ] }") ==
      Set(b("n" -> "Carol"), b("n" -> "Dave")))
  }

  test("syntax:bnode-label — _:b is a non-distinguished variable") {
    assert(run(people,
      "SELECT ?n WHERE { _:p :name ?n . _:p :age ?a }") ==
      Set(b("n" -> "Alice"), b("n" -> "Bob"), b("n" -> "Carol")))
  }

  test("syntax:anon-bnode — [] binds anything and stays unprojected") {
    assert(run(people, "SELECT DISTINCT ?x WHERE { ?x :knows [] }") ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob"), b("x" -> "p:carol")))
  }

  test("negation:minus-inside-optional — MINUS scopes to the optional group") {
    assert(run(people,
      """SELECT ?n ?m WHERE { ?x :name ?n
        |  OPTIONAL { ?x :mbox ?m MINUS { p:bob :mbox ?m } } }""".stripMargin) ==
      Set(b("n" -> "Alice", "m" -> "mailto:alice@work.example"),
        b("n" -> "Bob"), b("n" -> "Carol"), b("n" -> "Dave")))
  }

  test("union:filter-per-branch — each branch filters independently") {
    assert(run(people,
      """SELECT ?x WHERE {
        |  { ?x :age ?a FILTER(?a > 35) } UNION { ?x :age ?a FILTER(?a < 28) }
        |}""".stripMargin) ==
      Set(b("x" -> "p:bob"), b("x" -> "p:carol")))
  }

  test("subquery:nested-two-deep — a subquery inside a subquery") {
    assert(run(people,
      """SELECT ?n WHERE {
        |  { SELECT ?x WHERE {
        |      { SELECT ?x WHERE { ?x :age ?a } ORDER BY DESC(?a) LIMIT 2 }
        |      ?x :mbox ?m } }
        |  ?x :name ?n }""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Bob")))
  }

  // ---- batch 4: projection expressions, OPTIONAL compatibility, ----
  // ---- unbound ordering, remaining function/path shapes        ----

  test("select-expr:project-expression — (expr AS ?alias) in the projection") {
    assert(run(people,
      "SELECT ?n (?a * 2 AS ?dbl) WHERE { ?x :name ?n ; :age ?a }") ==
      Set(b("n" -> "Alice", "dbl" -> "60"), b("n" -> "Bob", "dbl" -> "80"),
        b("n" -> "Carol", "dbl" -> "50")))
  }

  test("select-expr:string-function — (UCASE(?v) AS ?u) projects computed text") {
    assert(run(people,
      "SELECT (UCASE(?n) AS ?u) WHERE { p:alice :name ?n }") ==
      Set(b("u" -> "ALICE")))
  }

  test("optional:second-optional-joins-bound-var — compatibility across OPTIONALs") {
    // dawg-optional:complex shape: the second OPTIONAL shares ?m with
    // the first. Where the first bound ?m the second must be
    // COMPATIBLE (join on it, keep the row when incompatible); where
    // the first left ?m UNBOUND the second binds it freely.
    val data = Seq(
      ("c:1", ":name", "One", Option.empty[Double], false, Option.empty[String]),
      ("c:1", ":mbox", "m1", None, false, None),
      ("c:1", ":web", "w1", None, false, None),
      ("c:2", ":name", "Two", None, false, None),
      ("c:2", ":web", "w2", None, false, None),
      ("c:3", ":name", "Three", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(run(data,
      """SELECT ?n ?m WHERE { ?x :name ?n
        |  OPTIONAL { ?x :mbox ?m }
        |  OPTIONAL { ?x :web ?m } }""".stripMargin) ==
      Set(b("n" -> "One", "m" -> "m1"),   // bound, incompatible web kept out
        b("n" -> "Two", "m" -> "w2"),     // unbound adopts the web value
        b("n" -> "Three")))               // unbound, no web either
  }

  test("filter:unbound-is-error-is-false — a comparison over unbound drops the row") {
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  OPTIONAL { ?x :age ?a } FILTER(?a > 26) }""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Bob")))
  }

  test("order:unbound-sorts-first — unbound precedes every RDF term (§15.1)") {
    val df = Graft.sparql(people,
      """SELECT ?n ?m WHERE { ?x :name ?n OPTIONAL { ?x :mbox ?m } }
        |ORDER BY ?m ?n""".stripMargin)
    val names = df.collect().map(_.getString(0)).toSeq
    // Carol and Dave (no mbox) must come before the two bound rows
    assert(names.take(2).toSet == Set("Carol", "Dave"), names)
    assert(names.drop(2) == Seq("Alice", "Bob"), names)
  }

  test("aggregates:min-max-strings — MIN/MAX fall back to lexical ordering") {
    assert(run(people,
      "SELECT (MIN(?n) AS ?lo) (MAX(?n) AS ?hi) WHERE { ?x :name ?n }") ==
      Set(b("lo" -> "Alice", "hi" -> "Dave")))
  }

  test("property-path:pp-star-constant-object — closure into a bound endpoint") {
    assert(run(paths, "SELECT ?x WHERE { ?x :p* n:c }") ==
      Set(b("x" -> "n:a"), b("x" -> "n:b"), b("x" -> "n:c"), b("x" -> "n:d")))
  }

  test("negation:not-exists-filtered-body — a FILTER inside the NOT EXISTS body") {
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER NOT EXISTS { ?x :age ?a FILTER(?a > 28) } }""".stripMargin) ==
      Set(b("n" -> "Carol"), b("n" -> "Dave")))
  }

  test("functions:strlen-on-tagged — string ops use the lexical form") {
    assert(run(people,
      """SELECT ?g WHERE { p:alice :greeting ?g FILTER(STRLEN(?g) = 7) }""") ==
      Set(b("g" -> "Bonjour")))
  }

  // ---- batch 5: compatibility chains, grouping modifiers, edges ----

  test("optional:three-chained-adoption — the var flows through later OPTIONALs") {
    val data = Seq(
      ("c:1", ":name", "One", Option.empty[Double], false, Option.empty[String]),
      ("c:2", ":name", "Two", None, false, None),
      ("c:2", ":third", "t2", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // ?m unbound through two empty OPTIONALs, adopted by the third
    assert(run(data,
      """SELECT ?n ?m WHERE { ?x :name ?n
        |  OPTIONAL { ?x :first ?m }
        |  OPTIONAL { ?x :second ?m }
        |  OPTIONAL { ?x :third ?m } }""".stripMargin) ==
      Set(b("n" -> "One"), b("n" -> "Two", "m" -> "t2")))
  }

  test("optional:two-risky-vars — the mask split covers both variables") {
    val data = Seq(
      ("c:1", ":name", "One", Option.empty[Double], false, Option.empty[String]),
      ("c:1", ":a", "a1", None, false, None),
      ("c:2", ":name", "Two", None, false, None),
      ("c:2", ":b", "b2", None, false, None),
      ("c:1", ":pair_a", "a1", None, false, None),
      ("c:1", ":pair_b", "bX", None, false, None),
      ("c:2", ":pair_a", "aY", None, false, None),
      ("c:2", ":pair_b", "b2", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // c:1 enters with ?a bound / ?b unbound, c:2 the reverse; the
    // final OPTIONAL binds both — each row joins on its bound one and
    // adopts the other
    assert(run(data,
      """SELECT ?n ?a ?b WHERE { ?x :name ?n
        |  OPTIONAL { ?x :a ?a } OPTIONAL { ?x :b ?b }
        |  OPTIONAL { ?x :pair_a ?a ; :pair_b ?b } }""".stripMargin) ==
      Set(b("n" -> "One", "a" -> "a1", "b" -> "bX"),
        b("n" -> "Two", "a" -> "aY", "b" -> "b2")))
  }

  test("optional:union-body — a UNION inside the OPTIONAL body") {
    assert(run(people,
      """SELECT ?n ?v WHERE { ?x :name ?n
        |  OPTIONAL { { ?x :mbox ?v } UNION { ?x :greeting ?v } } }""".stripMargin) ==
      Set(b("n" -> "Alice", "v" -> "mailto:alice@work.example"),
        b("n" -> "Alice", "v" -> "Hello"),
        b("n" -> "Alice", "v" -> "Bonjour"),
        b("n" -> "Bob", "v" -> "mailto:bob@work.example"),
        b("n" -> "Carol"), b("n" -> "Dave")))
  }

  test("distinct:folds-unbound-rows — DISTINCT over an optional var") {
    val data = Seq(
      ("c:1", ":tag", "x", Option.empty[Double], false, Option.empty[String]),
      ("c:2", ":tag", "x", None, false, None),
      ("c:1", ":extra", "e", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(run(data,
      """SELECT DISTINCT ?t ?e WHERE { ?x :tag ?t
        |  OPTIONAL { ?x :extra ?e } }""".stripMargin) ==
      Set(b("t" -> "x", "e" -> "e"), b("t" -> "x")))
  }

  test("aggregates:max-over-iris — MIN/MAX of IRI bindings order lexically") {
    assert(run(people,
      "SELECT (MAX(?x) AS ?hi) WHERE { ?x rdf:type :Person }") ==
      Set(b("hi" -> "p:carol")))
  }

  test("aggregates:having-count-order — HAVING and ORDER BY over the alias") {
    assert(run(orgs,
      """SELECT ?d (COUNT(?e) AS ?c) WHERE { ?d :employee ?e }
        |GROUP BY ?d HAVING(COUNT(?e) >= 1) ORDER BY DESC(?c) ?d
        |LIMIT 2""".stripMargin) ==
      Set(b("d" -> "o:dep1", "c" -> "2"), b("d" -> "o:dep2", "c" -> "1")))
  }

  test("modifiers:limit-offset-page — paging through a sorted list") {
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n } ORDER BY ?n LIMIT 2 OFFSET 1") ==
      Set(b("n" -> "Bob"), b("n" -> "Carol")))
  }

  test("functions:substr-edges — SUBSTR clamps at the string end") {
    assert(run(people,
      """SELECT ?s WHERE { p:alice :name ?n . BIND(SUBSTR(?n, 4) AS ?s) }""") ==
      Set(b("s" -> "ce")))
  }

  test("bind:then-filter — a FILTER over the BIND output") {
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n . ?x :age ?a
        |  BIND(?a * 2 AS ?d) FILTER(?d >= 60) }""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Bob")))
  }

  // ---- batch 6: Join/MINUS compatibility over unbound vars ---------

  test("join:union-one-sided-var — a branch-unbound var adopts the join value") {
    // branch 2 leaves ?v unbound, so its solutions are COMPATIBLE
    // with any :name binding and adopt it; branch 1 binds ?v to the
    // mbox, which never equals a name — those rows drop
    assert(run(people,
      """SELECT ?x ?v WHERE {
        |  { { ?x :mbox ?v } UNION { ?x rdf:type :Robot } }
        |  ?x :name ?v }""".stripMargin) ==
      Set(b("x" -> "p:dave", "v" -> "Dave")))
  }

  test("minus:unbound-var-leaves-domain — removal compares bound vars only") {
    val data = Seq(
      ("s:1", ":name", "A", Option.empty[Double], false, Option.empty[String]),
      ("s:1", ":mbox", "m1", None, false, None),
      ("s:2", ":name", "B", None, false, None),
      ("s:2", ":altmail", "am2", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // s:2's ?m is unbound, so it drops out of the comparison domain:
    // the MINUS solution (x=s:2, m=am2) is compatible on {x} alone
    // and removes the row; s:1 has no :altmail solution to match
    assert(run(data,
      """SELECT ?n WHERE { ?x :name ?n
        |  OPTIONAL { ?x :mbox ?m }
        |  MINUS { ?x :altmail ?m } }""".stripMargin) ==
      Set(b("n" -> "A")))
  }

  test("minus:disjoint-slice-kept — an all-unbound overlap removes nothing") {
    val data = Seq(
      ("s:1", ":name", "A", Option.empty[Double], false, Option.empty[String]),
      ("s:9", ":other", "x9", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // the MINUS pattern shares only ?m, which the left leaves
    // unbound — domains are disjoint, so nothing is removed
    assert(run(data,
      """SELECT ?n WHERE { ?x :name ?n
        |  OPTIONAL { ?x :mbox ?m }
        |  MINUS { ?y :other ?m } }""".stripMargin) ==
      Set(b("n" -> "A")))
  }

  test("functions:hash-family — SHA1/SHA384/SHA512 (§17.4.4.5-8)") {
    // RFC test vector for "abc" across the whole family
    assert(run(people,
      """SELECT ?h1 ?h3 ?h5 WHERE { <p:alice> :name ?n
        |  BIND(SHA1("abc") AS ?h1)
        |  BIND(SHA384("abc") AS ?h3)
        |  BIND(SHA512("abc") AS ?h5) }""".stripMargin) ==
      Set(b(
        "h1" -> "a9993e364706816aba3e25717850c26c9cd0d89d",
        "h3" -> ("cb00753f45a35e8bb5a03d699ac65007272c32ab0eded163" +
          "1a8b605a43ff5bed8086072ba1e7cc2358baeca134c825a7"),
        "h5" -> ("ddaf35a193617abacc417349ae20413112e6fa4e89a97ea2" +
          "0a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd" +
          "454d4423643ce80e2a9ac94fa54ca49f"))))
  }

  test("syntax:bnode-label-dot — trailing '.' is the terminator, not label") {
    // BLANK_NODE_LABEL forbids a trailing dot: `_:b0.` must parse as
    // label `b0` + triple terminator, so both patterns share one
    // scoped variable and join on it (alice types Person AND has a
    // name → the bnode-as-subject wouldn't join; same-label identity
    // is what makes this return rows)
    assert(run(people,
      """SELECT ?n WHERE { _:w :name ?n . _:w rdf:type :Robot }""") ==
      Set(b("n" -> "Dave")))
    assert(run(people,
      "SELECT ?n WHERE { _:w rdf:type :Person. _:w :name ?n . " +
        "FILTER(STRSTARTS(?n, \"A\")) }") ==
      Set(b("n" -> "Alice")))
  }

  /** theta-fallback fixture: 7 possibly-unbound shared vars exceeds
    * the 2^6 mask-split slice budget, forcing the single
    * null-tolerant compatibility join on every compat operator.
    */
  private lazy val wide: DataFrame = {
    val ks = (1 to 7).map(i => (s":k$i", i.toString))
    (Seq(("s:1", ":name", "A", Option.empty[Double], false, Option.empty[String]),
         ("s:3", ":name", "C", None, false, None)) ++
      ks.map { case (k, v) => ("s:2", k, v, Some(v.toDouble), false, None) } ++
      ks.map { case (k, v) => ("s:3", k, v, Some(v.toDouble), false, None) })
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
  }
  private val k7 = (1 to 7).map(i => s"?SUBJ :k$i ?v$i .").mkString(" ")

  test("optional:theta-fallback — 7 risky shared vars, LeftJoin adopts") {
    // s:1 leaves all seven vars unbound after OPT1 → compatible with
    // BOTH right bindings and adopts; s:3 binds them → equality join
    assert(run(wide,
      s"""SELECT ?n ?y WHERE { ?x :name ?n
         |  OPTIONAL { ${k7.replace("?SUBJ", "?x")} }
         |  OPTIONAL { ${k7.replace("?SUBJ", "?y")} } }""".stripMargin) ==
      Set(b("n" -> "A", "y" -> "s:2"), b("n" -> "A", "y" -> "s:3"),
        b("n" -> "C", "y" -> "s:2"), b("n" -> "C", "y" -> "s:3")))
  }

  test("join:theta-fallback — 7 risky shared vars, Join §6.2 compat") {
    assert(run(wide,
      s"""SELECT ?n ?y ?v7 WHERE {
         |  { ?x :name ?n OPTIONAL { ${k7.replace("?SUBJ", "?x")} } }
         |  ${k7.replace("?SUBJ", "?y")} }""".stripMargin) ==
      Set(b("n" -> "A", "y" -> "s:2", "v7" -> "7"),
        b("n" -> "A", "y" -> "s:3", "v7" -> "7"),
        b("n" -> "C", "y" -> "s:2", "v7" -> "7"),
        b("n" -> "C", "y" -> "s:3", "v7" -> "7")))
  }

  test("minus:theta-fallback — 7 risky shared vars, §8.3 domain overlap") {
    // s:1's row leaves every shared var unbound → disjoint domains,
    // kept; s:3's bound row is compatible with the right → removed
    assert(run(wide,
      s"""SELECT ?n WHERE { ?x :name ?n
         |  OPTIONAL { ${k7.replace("?SUBJ", "?x")} }
         |  MINUS { ${k7.replace("?SUBJ", "?y")} } }""".stripMargin) ==
      Set(b("n" -> "A")))
  }

  test("subselect:projected-nowhere — sentinel var is compat-joined (§18.2.4)") {
    // ?m is projected but bound nowhere in the subquery → it is the
    // unbound sentinel and must be flagged possibly-unbound, so the
    // enclosing join on ?m adopts instead of comparing the sentinel
    assert(run(people,
      """SELECT ?n ?m WHERE {
        |  { SELECT ?x ?m WHERE { ?x rdf:type :Person } }
        |  ?x :name ?n .
        |  ?z :mbox ?m . }""".stripMargin) ==
      Set(
        b("n" -> "Alice", "m" -> "mailto:alice@work.example"),
        b("n" -> "Alice", "m" -> "mailto:bob@work.example"),
        b("n" -> "Bob", "m" -> "mailto:alice@work.example"),
        b("n" -> "Bob", "m" -> "mailto:bob@work.example"),
        b("n" -> "Carol", "m" -> "mailto:alice@work.example"),
        b("n" -> "Carol", "m" -> "mailto:bob@work.example")))
  }

  /** dateTime family fixture: one event per zone flavor; instants
    * deliberately disagree with lexical string order.
    */
  private lazy val zonedTimes: DataFrame = Seq(
    ("e:1", ":at", "2020-01-01T12:00:00+02:00", Option.empty[Double], false, Option.empty[String]), // 10:00Z
    ("e:2", ":at", "2020-01-01T10:30:00Z", None, false, None),                 // 10:30Z
    ("e:3", ":at", "2020-01-01T09:00:00-05:00", None, false, None),            // 14:00Z
    ("e:4", ":at", "2019-12-31T23:59:59-11:00", None, false, None),            // 10:59:59Z
    ("e:5", ":at", "2020-01-01T11:15:00", None, false, None))                  // zoneless → 11:15Z
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  test("datetime:filter-instant — mixed-zone FILTER compares the timeline") {
    // lexical semantics would keep e:4 ("2019-…" < anything "2020-…")
    // and drop e:3; instants 14:00Z and 10:59:59Z say the opposite
    assert(run(zonedTimes,
      """SELECT ?x WHERE { ?x :at ?t FILTER(?t > "2020-01-01T10:45:00Z") }""") ==
      Set(b("x" -> "e:3"), b("x" -> "e:4"), b("x" -> "e:5")))
  }

  test("datetime:eq-across-zones — offset forms of one instant are equal") {
    assert(run(zonedTimes,
      """SELECT ?x WHERE { ?x :at ?t FILTER(?t = "2020-01-01T05:00:00-05:00") }""") ==
      Set(b("x" -> "e:1")))
  }

  test("datetime:var-var — two bindings compare as instants") {
    // e:4 (10:59:59Z) < e:2 (10:30Z) lexically ("2019…" < "2020…")
    // is WRONG on the timeline — only (e:1 10:00Z, every later) pairs
    // plus the true instant order survive
    assert(run(zonedTimes,
      """SELECT ?x ?y WHERE { ?x :at ?t1 . ?y :at ?t2 .
        |  FILTER(?t1 < ?t2 && ?t2 <= "2020-01-01T10:59:59Z") }""".stripMargin) ==
      Set(b("x" -> "e:1", "y" -> "e:2"), b("x" -> "e:1", "y" -> "e:4"),
        b("x" -> "e:2", "y" -> "e:4")))
  }

  test("datetime:order-by — mixed zones sort by instant, LIMIT cuts right") {
    import spark.implicits._
    val df = Graft.sparql(zonedTimes,
      "SELECT ?x WHERE { ?x :at ?t } ORDER BY ?t LIMIT 3")
    assert(df.select("x").as[String].collect().toSeq ==
      Seq("e:1", "e:2", "e:4"))
  }

  test("datetime:minmax-instant — MIN/MAX fold on the timeline, return the lexical") {
    // lexical MIN would be e:4's "2019-…" (instant 10:59:59Z, rank 3
    // of 5) and lexical MAX e:1's "…+02:00" (10:00Z, the EARLIEST
    // instant) — the instant fold returns e:1's lexical as MIN and
    // e:3's as MAX, each verbatim (no canonicalization of the output)
    assert(run(zonedTimes,
      """SELECT (MIN(?t) AS ?lo) (MAX(?t) AS ?hi) WHERE { ?x :at ?t }""") ==
      Set(b("lo" -> "2020-01-01T12:00:00+02:00",
        "hi" -> "2020-01-01T09:00:00-05:00")))
    // grouped: per-subject MIN stays the row's own value
    assert(run(zonedTimes,
      """SELECT ?x (MIN(?t) AS ?lo) WHERE { ?x :at ?t . FILTER(?x = "e:4") }
        |GROUP BY ?x""".stripMargin) ==
      Set(b("x" -> "e:4", "lo" -> "2019-12-31T23:59:59-11:00")))
    // plain strings still fold lexically (MIN of names unchanged)
    assert(run(people,
      """SELECT (MIN(?n) AS ?lo) WHERE { ?x :name ?n }""") ==
      Set(b("lo" -> "Alice")))
  }

  test("datetime:plain-strings-unaffected — non-date lexicals keep string compare") {
    assert(run(people,
      """SELECT ?x WHERE { ?x :name ?n FILTER(?n < "Bob") }""") ==
      Set(b("x" -> "p:alice")))
  }

  test("sentinel:genuine-na-literal — data spelling \"N/A\" is NOT unbound") {
    import spark.implicits._
    // d:1 really answers "N/A" (a common survey value); d:2 has no
    // answer, so its OPTIONAL fill is the display sentinel. The
    // term-kind companion tells them apart: BOUND(), COUNT and the
    // compat machinery must treat d:1's value as a bound literal
    val data = Seq(
      ("d:1", ":answer", "N/A", Option.empty[Double], false, Option.empty[String]),
      ("d:1", ":name", "One", None, false, None),
      ("d:2", ":name", "Two", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // BOUND: only d:2's fill is unbound
    assert(run(data,
      """SELECT ?n WHERE { ?x :name ?n
        |  OPTIONAL { ?x :answer ?a } FILTER(BOUND(?a)) }""".stripMargin) ==
      Set(b("n" -> "One")))
    // COUNT: the genuine literal is IN the multiset, the fill is not
    import org.apache.spark.sql.functions.col
    val cnt = Graft.sparql(data,
      """SELECT (COUNT(?a) AS ?c) WHERE { ?x :name ?n
        |  OPTIONAL { ?x :answer ?a } }""".stripMargin)
      .select(col("c").cast("long")).collect().head.getLong(0)
    assert(cnt == 1)
    // MINUS: d:1's bound "N/A" overlaps the right's domain → removed;
    // d:2's fill leaves the domain disjoint → kept
    assert(run(data,
      """SELECT ?n WHERE { ?x :name ?n
        |  OPTIONAL { ?x :answer ?a }
        |  MINUS { ?y :answer ?a } }""".stripMargin) ==
      Set(b("n" -> "Two")))
  }

  test("subselect:ansi-safe-order — ORDER BY over string-valued subquery output") {
    // the numeric companion re-derivation over a SubSelect output must
    // try_cast (ANSI mode): 'Alice'/'Bob' would crash a strict cast
    assert(run(people,
      """SELECT ?n WHERE {
        |  { SELECT ?n WHERE { ?x :name ?n } }
        |} ORDER BY ?n LIMIT 2""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Bob")))
  }

  // ---- r14 batch: §15.1 term-kind order, lang-tag case, GRAPH+paths,
  // ---- update corners ----------------------------------------------

  /** One subject per term kind in the ?v object: blank node, two
    * IRIs, a literal, and one subject with NO ?v (OPTIONAL unbound).
    * Lexical order would interleave them (N/A < _:b1 < ab:iri1 <
    * apple < zz:iri2); §15.1 tiers do not.
    */
  private lazy val mixedKinds: DataFrame = Seq(
    ("s:1", ":id", "1", Some(1.0), false, Option.empty[String]),
    ("s:1", ":v", "zz:iri2", None, true, None),
    ("s:2", ":id", "2", Some(2.0), false, None),
    ("s:2", ":v", "_:b1", None, true, None),
    ("s:3", ":id", "3", Some(3.0), false, None),
    ("s:3", ":v", "apple", None, false, None),
    ("s:4", ":id", "4", Some(4.0), false, None),
    ("s:4", ":v", "ab:iri1", None, true, None),
    ("s:5", ":id", "5", Some(5.0), false, None))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  test("order:term-kinds — §15.1: unbound < blank < IRI < literal") {
    import spark.implicits._
    val asc = Graft.sparql(mixedKinds,
      """SELECT ?x WHERE { ?x :id ?i OPTIONAL { ?x :v ?v } }
        |ORDER BY ?v ?x""".stripMargin)
      .select("x").as[String].collect().toSeq
    assert(asc == Seq("s:5", "s:2", "s:4", "s:1", "s:3"),
      s"ascending §15.1 order, got $asc")
    // DESC is the exact reverse of the total order
    val desc = Graft.sparql(mixedKinds,
      """SELECT ?x WHERE { ?x :id ?i OPTIONAL { ?x :v ?v } }
        |ORDER BY DESC(?v) DESC(?x)""".stripMargin)
      .select("x").as[String].collect().toSeq
    assert(desc == asc.reverse, s"descending order, got $desc")
    // LIMIT cuts on the tiered order (the first two = unbound + blank)
    val cut = Graft.sparql(mixedKinds,
      """SELECT ?x WHERE { ?x :id ?i OPTIONAL { ?x :v ?v } }
        |ORDER BY ?v ?x LIMIT 2""".stripMargin)
      .select("x").as[String].collect().toSeq
    assert(cut == Seq("s:5", "s:2"))
  }

  private lazy val casedTags: DataFrame = Seq(
    ("x:1", ":label", "chat", Option.empty[Double], false, Some("EN")),
    ("x:2", ":label", "chat", None, false, Some("en")),
    ("x:3", ":label", "chat", None, false, Option.empty[String]),
    ("x:4", ":label", "chat", None, false, Some("en-US")))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  test("lang:case-insensitive — @EN and @en are one RDF term") {
    // lang-tagged literal in the pattern: either spelling matches both
    assert(run(casedTags,
      """SELECT ?x WHERE { ?x :label "chat"@en }""") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2")))
    assert(run(casedTags,
      """SELECT ?x WHERE { ?x :label "chat"@EN }""") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2")))
    // lang() returns the LOWERCASE term component (RDF 1.1 §3.3) …
    assert(run(casedTags,
      """SELECT ?x WHERE { ?x :label ?v FILTER(lang(?v) = "en") }""") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2")))
    // … and the `=` comparison runs over the same lowercase value
    // space on BOTH sides (r15, matching the triple-pattern tagged-
    // literal match): an uppercase query constant still matches
    assert(run(casedTags,
      """SELECT ?x WHERE { ?x :label ?v FILTER(lang(?v) = "EN") }""") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2")))
    // LANGMATCHES stays RFC 4647 case-insensitive incl. subtags
    assert(run(casedTags,
      """SELECT ?x WHERE { ?x :label ?v FILTER(LANGMATCHES(LANG(?v), "EN")) }""") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2"), b("x" -> "x:4")))
  }

  test("graph:path-composition — a property path inside GRAPH <g>") {
    val quads = Seq(
      ("g:a", "e:1", ":next", "e:2", Option.empty[Double], true, Option.empty[String]),
      ("g:a", "e:2", ":next", "e:3", None, true, None),
      ("g:b", "e:3", ":next", "e:4", None, true, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    // the closure walks ONLY g:a's slice: e:4 is reachable in the
    // union graph but its edge lives in g:b
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      "SELECT ?y WHERE { GRAPH <g:a> { <e:1> :next+ ?y } }"))) ==
      Set(b("y" -> "e:2"), b("y" -> "e:3")))
    // the same path over the default (union) graph DOES reach e:4
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      "SELECT ?y WHERE { <e:1> :next+ ?y }"))) ==
      Set(b("y" -> "e:2"), b("y" -> "e:3"), b("y" -> "e:4")))
    // path + OPTIONAL composing inside the same GRAPH group
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      """SELECT ?y ?z WHERE { GRAPH <g:a> {
        |  <e:1> :next+ ?y OPTIONAL { ?y :next ?z } } }""".stripMargin))) ==
      Set(b("y" -> "e:2", "z" -> "e:3"), b("y" -> "e:3")))
  }

  test("update:with-delete-only — WITH scopes a bare DELETE template") {
    import spark.implicits._
    val quads = Seq(
      ("g:a", "x:1", ":flag", "on", Option.empty[Double], false, Option.empty[String]),
      ("g:b", "x:1", ":flag", "on", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    val out = Graft.updateQuads(quads,
      "WITH <g:a> DELETE { ?s :flag ?v } WHERE { ?s :flag ?v }")
    // only g:a's copy of the identical triple is gone
    assert(out.select("g").as[String].collect().toSeq == Seq("g:b"))
    // DELETE WHERE over a quad relation stays the pointed
    // triple-store redirect (graph-scoped deletion is the WITH form)
    val e = intercept[IllegalArgumentException] {
      Graft.updateQuads(quads, "DELETE WHERE { ?s :flag ?v }")
    }
    assert(e.getMessage.contains("use apply"))
  }

  test("filter:out-of-scope-var — §17.2 type error, not a crash") {
    // a FILTER over a var the pattern never binds is LEGAL; every
    // leaf touching it evaluates to a type error → the row drops
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n FILTER(?zzz > 5) }") == Set.empty)
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n FILTER(STRSTARTS(?zzz, \"A\")) }") ==
      Set.empty)
    // BOUND of an out-of-scope var is plain FALSE (never an error):
    // !BOUND keeps everything
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n FILTER(!BOUND(?zzz)) }").size == 4)
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n FILTER(BOUND(?zzz)) }") == Set.empty)
    // error algebra: err || true = true (Alice survives), err || false
    // = err (everyone else drops); err && anything never keeps a row
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER(STRSTARTS(?n, "A") || ?zzz > 5) }""".stripMargin) ==
      Set(b("n" -> "Alice")))
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n
        |  FILTER(STRSTARTS(?n, "A") && ?zzz > 5) }""".stripMargin) ==
      Set.empty)
    // COALESCE skips the out-of-scope argument (§17.4.1.3)
    assert(run(people,
      """SELECT ?n ?m WHERE { ?x :name ?n
        |  BIND(COALESCE(?zzz, "fallback") AS ?m) }""".stripMargin)
      .forall(_("m") == "fallback"))
    // a BIND whose expression errors (out-of-scope var) leaves the
    // target UNBOUND — the row survives, the var doesn't (§10.1)
    val bound = run(people,
      "SELECT ?n ?m WHERE { ?x :name ?n BIND(?zzz + 1 AS ?m) }")
    assert(bound.size == 4 && bound.forall(!_.contains("m")))
    // IF with an error condition is an error → unbound (§17.4.1.2)
    val ifb = run(people,
      """SELECT ?n ?m WHERE { ?x :name ?n
        |  BIND(IF(?zzz > 5, "a", "b") AS ?m) }""".stripMargin)
    assert(ifb.size == 4 && ifb.forall(!_.contains("m")))
  }

  test("bind:rebind-in-scope-rejected — §10.1 BIND must mint a fresh var") {
    val e = intercept[IllegalArgumentException] {
      Graft.sparql(people,
        "SELECT ?n WHERE { ?x :name ?n BIND(UCASE(?n) AS ?n) }").collect()
    }
    assert(e.getMessage.contains("already in scope"))
  }

  test("property-path:zeroone-bound-endpoints — p? between constants") {
    val data = Seq(
      ("n:1", ":p", "n:2", Option.empty[Double], true, Option.empty[String]),
      ("n:2", ":p", "n:3", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // zero-length: any node relates to itself, even without edges
    assert(Graft.sparql(data, "SELECT ?x WHERE { <n:1> :p? <n:1> . BIND(1 AS ?x) }")
      .count() == 1)
    // one hop holds where the edge exists …
    assert(Graft.sparql(data, "SELECT ?x WHERE { <n:1> :p? <n:2> . BIND(1 AS ?x) }")
      .count() == 1)
    // … and p? never composes two hops
    assert(Graft.sparql(data, "SELECT ?x WHERE { <n:1> :p? <n:3> . BIND(1 AS ?x) }")
      .count() == 0)
    // p{0,1} is the same relation as p?
    assert(run(data, "SELECT ?y WHERE { <n:1> :p{0,1} ?y }") ==
      run(data, "SELECT ?y WHERE { <n:1> :p? ?y }"))
  }

  test("aggregates:concat-sample-skip-unbound — optional fills leave the multiset") {
    val data = Seq(
      ("x:1", ":name", "a", Option.empty[Double], false, Option.empty[String]),
      ("x:1", ":tag", "t1", None, false, None),
      ("x:2", ":name", "b", None, false, None),
      ("x:3", ":name", "c", None, false, None),
      ("x:3", ":tag", "t3", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // x:2 contributes NO element — GROUP_CONCAT and SAMPLE fold only
    // the bound values (§18.5 error-removal), and the all-unbound
    // group folds to the empty string / unbound
    assert(run(data,
      """SELECT (GROUP_CONCAT(?t; SEPARATOR=",") AS ?ts) (SAMPLE(?t) AS ?one)
        |WHERE { ?x :name ?n OPTIONAL { ?x :tag ?t } }""".stripMargin) ==
      Set(b("ts" -> "t1,t3", "one" -> "t1")))
  }

  test("filter:numeric-lexical-forms — typed numerics compare by value") {
    val data = Seq(
      ("x:1", ":v", "30", Some(30.0), false, Option.empty[String]),
      ("x:2", ":v", "30.0", Some(30.0), false, None),
      ("x:3", ":v", "29.5", Some(29.5), false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // "30" and "30.0" are one VALUE: both pass = 30.0 and = 30
    assert(run(data, "SELECT ?x WHERE { ?x :v ?n FILTER(?n = 30.0) }") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2")))
    assert(run(data, "SELECT ?x WHERE { ?x :v ?n FILTER(?n = 30) }") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2")))
    // a typed-literal pattern OBJECT matches by value too
    assert(run(data, "SELECT ?x WHERE { ?x :v \"30.00\"^^xsd:decimal }") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2")))
    assert(run(data, "SELECT ?x WHERE { ?x :v ?n FILTER(?n < 30) }") ==
      Set(b("x" -> "x:3")))
  }

  test("subselect:inner-limit — the inner LIMIT cuts before the outer join") {
    assert(run(people,
      """SELECT ?n WHERE {
        |  ?x :name ?n .
        |  { SELECT ?x WHERE { ?x rdf:type :Person } ORDER BY ?x LIMIT 2 }
        |}""".stripMargin).size == 2)
  }

  test("union:branch-local-filter — a FILTER scopes to its branch") {
    assert(run(people,
      """SELECT ?n WHERE {
        |  { ?x :name ?n FILTER(STRSTARTS(?n, "A")) }
        |  UNION
        |  { ?x :name ?n FILTER(STRSTARTS(?n, "B")) }
        |}""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Bob")))
  }

  test("property-path:alt-in-seq — alternation nested inside a sequence") {
    val data = Seq(
      ("r:1", ":a", "r:2", Option.empty[Double], true, Option.empty[String]),
      ("r:2", ":b", "r:3", None, true, None),
      ("r:2", ":c", "r:3", None, true, None),
      ("r:4", ":b", "r:2", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // two choices, both landing on r:3 — BAG semantics: two rows
    val bag = Graft.sparql(data,
      "SELECT ?y WHERE { <r:1> :a/(:b|:c) ?y }")
    assert(bag.count() == 2)
    assert(run(data, "SELECT ?y WHERE { <r:1> :a/(:b|:c) ?y }") ==
      Set(b("y" -> "r:3")))
    // an INVERSE atom inside the alternation: (:a|^:b) then :b
    assert(run(data, "SELECT ?x ?y WHERE { ?x (:a|^:b)/:b ?y }") ==
      Set(b("x" -> "r:1", "y" -> "r:3"), b("x" -> "r:3", "y" -> "r:3"),
        b("x" -> "r:2", "y" -> "r:2")))
    // a closure over a sequence whose FIRST step is an alternation:
    // the composed edge set is (:a∪:c)-then-:b — only r:1 reaches r:3
    assert(run(data, "SELECT ?x ?y WHERE { ?x ((:a|:c)/:b)+ ?y }") ==
      Set(b("x" -> "r:1", "y" -> "r:3")))
  }

  test("property-path:inverse-group — ^(p1|p2) and ^(p1/p2) desugar") {
    val data = Seq(
      ("n:1", ":p", "n:2", Option.empty[Double], true, Option.empty[String]),
      ("n:3", ":q", "n:2", None, true, None),
      ("n:2", ":r", "n:4", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // ^(p|q) ≡ (^p|^q): from n:2 back over either edge
    assert(run(data, "SELECT ?x WHERE { <n:2> ^(:p|:q) ?x }") ==
      Set(b("x" -> "n:1"), b("x" -> "n:3")))
    // ^(p/r) ≡ ^r/^p: from n:4 back over r then p — only n:1
    assert(run(data, "SELECT ?x WHERE { <n:4> ^(:p/:r) ?x }") ==
      Set(b("x" -> "n:1")))
    // equivalence with the spelled-out forms
    assert(run(data, "SELECT ?x ?y WHERE { ?x ^(:p|:q) ?y }") ==
      run(data, "SELECT ?x ?y WHERE { { ?x ^:p ?y } UNION { ?x ^:q ?y } }"))
    assert(run(data, "SELECT ?x ?y WHERE { ?x ^(:p/:r) ?y }") ==
      run(data, "SELECT ?x ?y WHERE { ?x ^:r/^:p ?y }"))
    // an inverse group composing INSIDE a sequence
    assert(run(data, "SELECT ?x WHERE { <n:1> :p/^(:q) ?x }") ==
      Set(b("x" -> "n:3")))
    // mixed-direction single alternation step `(p|^r)` from n:2
    assert(run(data, "SELECT ?x WHERE { <n:2> (:r|^:p) ?x }") ==
      Set(b("x" -> "n:4"), b("x" -> "n:1")))
  }

  test("exists:graph-body — FILTER EXISTS { GRAPH <g> { … } } over quads") {
    val quads = Seq(
      ("g:a", "x:1", ":n", "a", Option.empty[Double], false, Option.empty[String]),
      ("g:a", "x:1", ":certified", "yes", None, false, None),
      ("g:b", "x:2", ":n", "b", None, false, None),
      ("g:b", "x:2", ":certified", "yes", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    // the EXISTS body's GRAPH scope must hold: x:2's certification
    // lives in g:b, so the g:a-scoped EXISTS keeps only x:1
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      """SELECT ?s WHERE { ?s :n ?v
        |  FILTER EXISTS { GRAPH <g:a> { ?s :certified ?c } } }""".stripMargin))) ==
      Set(b("s" -> "x:1")))
    // NOT EXISTS flips it
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      """SELECT ?s WHERE { ?s :n ?v
        |  FILTER NOT EXISTS { GRAPH <g:a> { ?s :certified ?c } } }""".stripMargin))) ==
      Set(b("s" -> "x:2")))
  }

  test("optional:path-body — a property path as the OPTIONAL's pattern") {
    val data = Seq(
      ("e:1", ":next", "e:2", Option.empty[Double], true, Option.empty[String]),
      ("e:2", ":next", "e:3", None, true, None),
      ("e:9", ":tag", "lone", None, false, None),
      ("e:1", ":tag", "root", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // e:1 reaches e:2, e:3 through the closure; e:9 has no :next
    // edge and keeps its row with ?y unbound
    assert(run(data,
      """SELECT ?x ?y WHERE { ?x :tag ?t
        |  OPTIONAL { ?x :next+ ?y } }""".stripMargin) ==
      Set(b("x" -> "e:1", "y" -> "e:2"), b("x" -> "e:1", "y" -> "e:3"),
        b("x" -> "e:9")))
  }

  test("aggregates:group-by-optional-var — unbound forms its own group") {
    val data = Seq(
      ("x:1", ":name", "a", Option.empty[Double], false, Option.empty[String]),
      ("x:1", ":cat", "tools", None, false, None),
      ("x:2", ":name", "b", None, false, None),
      ("x:2", ":cat", "tools", None, false, None),
      ("x:3", ":name", "c", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // x:3 has no :cat — §18's grouping puts its solution in the
    // unbound-key group (the map comes back without ?cat)
    assert(run(data,
      """SELECT ?cat (COUNT(?n) AS ?cnt) WHERE { ?x :name ?n
        |  OPTIONAL { ?x :cat ?cat } } GROUP BY ?cat""".stripMargin) ==
      Set(b("cat" -> "tools", "cnt" -> "2"), b("cnt" -> "1")))
  }

  test("update:with-on-data-form — WITH parses only on the modify") {
    // grammar [41]: WITH belongs to Modify; the DATA forms take GRAPH
    // inside the block (not implemented here) but never WITH
    intercept[IllegalArgumentException] {
      SparqlParser.parseUpdate(
        "WITH <g:a> INSERT DATA { <x:1> :n \"a\" }")
    }
  }

  test("graph:minus-composition — MINUS inside a constant GRAPH group") {
    val quads = Seq(
      ("g:a", "x:1", ":n", "a", Option.empty[Double], false, Option.empty[String]),
      ("g:a", "x:2", ":n", "b", None, false, None),
      ("g:a", "x:2", ":blocked", "y", None, false, None),
      // x:1 is blocked only in g:b — the g:a-scoped MINUS must not see it
      ("g:b", "x:1", ":blocked", "y", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      """SELECT ?s WHERE { GRAPH <g:a> {
        |  ?s :n ?v MINUS { ?s :blocked ?z } } }""".stripMargin))) ==
      Set(b("s" -> "x:1")))
  }

  test("update:using-multiple — USING graphs union into the WHERE dataset") {
    val quads = Seq(
      ("g:a", "x:1", ":n", "a", Option.empty[Double], false, Option.empty[String]),
      ("g:b", "x:2", ":n", "b", None, false, None),
      ("g:c", "x:3", ":n", "c", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    val out = Graft.updateQuads(quads,
      "WITH <g:c> INSERT { ?s :seen ?v } USING <g:a> USING <g:b> WHERE { ?s :n ?v }")
    // the WHERE saw g:a ∪ g:b (not g:c), writes landed in g:c
    assert(bindings(out.filter(org.apache.spark.sql.functions.col("p") === ":seen")
      .select("g", "s", "o")) ==
      Set(b("g" -> "g:c", "s" -> "x:1", "o" -> "a"),
        b("g" -> "g:c", "s" -> "x:2", "o" -> "b")))
  }

  // ---- r15 batch: BIND/IF defaulting, correlated EXISTS (§8.1.1
  // ---- substitution), alternation-in-sequence companions, lang-tag
  // ---- region subtags, §15.1 tier under DISTINCT -------------------

  test("bind:if-bound-default — out-of-scope var in one branch stays per-row") {
    // the defaulting idiom: the then-branch references a var the
    // pattern NEVER binds; the spec evaluates only the chosen branch,
    // so every row takes the else value — not static unbound
    assert(run(people,
      """SELECT ?n ?y WHERE { ?x :name ?n .
        |BIND(IF(BOUND(?nope), ?nope, "fallback") AS ?y) }""".stripMargin) ==
      Set(b("n" -> "Alice", "y" -> "fallback"),
        b("n" -> "Bob", "y" -> "fallback"),
        b("n" -> "Carol", "y" -> "fallback"),
        b("n" -> "Dave", "y" -> "fallback")))
  }

  test("bind:if-bound-optional — per-row branch choice over an OPTIONAL var") {
    assert(run(people,
      """SELECT ?n ?y WHERE { ?x :name ?n OPTIONAL { ?x :mbox ?m }
        |BIND(IF(BOUND(?m), ?m, "none") AS ?y) }""".stripMargin) ==
      Set(b("n" -> "Alice", "y" -> "mailto:alice@work.example"),
        b("n" -> "Bob", "y" -> "mailto:bob@work.example"),
        b("n" -> "Carol", "y" -> "none"),
        b("n" -> "Dave", "y" -> "none")))
  }

  test("negation:exists-correlated — body FILTER reads an outer-only var") {
    // §8.1.1 substitution: ?a is bound ONLY by the outer group; the
    // EXISTS body evaluates per outer solution with ?a substituted
    assert(run(people,
      """SELECT ?x WHERE { ?x :age ?a .
        |FILTER EXISTS { ?x :knows ?y . FILTER(?a > 28) } }""".stripMargin) ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob")))
    assert(run(people,
      """SELECT ?x WHERE { ?x :age ?a .
        |FILTER NOT EXISTS { ?x :knows ?y . FILTER(?a > 28) } }""".stripMargin) ==
      Set(b("x" -> "p:carol")))
  }

  test("negation:exists-correlated-disjoint — body shares NO pattern var") {
    // exists someone strictly younger: the correlated ?a is the only
    // link between outer and body (the flag join keys on it alone)
    assert(run(people,
      """SELECT ?x WHERE { ?x :age ?a .
        |FILTER EXISTS { ?p2 :age ?a2 . FILTER(?a2 < ?a) } }""".stripMargin) ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob")))
  }

  test("negation:exists-correlated-marker — correlated EXISTS nested in &&") {
    assert(run(people,
      """SELECT ?x WHERE { ?x :age ?a .
        |FILTER(?a < 35 && EXISTS { ?x :knows ?y . FILTER(?a > 28) }) }""".stripMargin) ==
      Set(b("x" -> "p:alice")))
  }

  test("negation:not-exists-correlated-optional — outer var from OPTIONAL") {
    // Dave has no age: the substituted ?a is unbound for his row, the
    // body filter type-errors to false, the body is empty, NOT EXISTS
    // keeps him (§17.2 error algebra composed with §8.1.1)
    assert(run(people,
      """SELECT ?x WHERE { ?x :name ?n OPTIONAL { ?x :age ?a }
        |FILTER NOT EXISTS { ?x :knows ?y . FILTER(?a > 28) } }""".stripMargin) ==
      Set(b("x" -> "p:carol"), b("x" -> "p:dave")))
  }

  test("path:alt-in-seq-companions — numeric FILTER after mixed-direction alternation") {
    // forward branch :knows/:age binds ?v in OBJECT position (numeric
    // companion rides); inverse branch :knows/^:knows binds it in
    // subject position (companion padded null → type error → false).
    // The forward branch's companion must survive the branch union.
    assert(run(people,
      """SELECT ?x ?v WHERE { ?x :knows/(:age|^:knows) ?v .
        |FILTER(?v > 28) }""".stripMargin) ==
      Set(b("x" -> "p:alice", "v" -> "40")))
  }

  test("lang:region-subtag — lang(?v) = \"en-US\" matches BCP47 canonical casing") {
    // both sides compare over RDF 1.1's lowercase value space — the
    // same posture as the tagged-literal triple-pattern match
    assert(run(casedTags,
      """SELECT ?x WHERE { ?x :label ?l . FILTER(lang(?l) = "en-US") }""") ==
      Set(b("x" -> "x:4")))
    assert(run(casedTags,
      """SELECT ?x WHERE { ?x :label ?l . FILTER(lang(?l) = "EN") }""") ==
      Set(b("x" -> "x:1"), b("x" -> "x:2")))
  }

  /** Two named graphs with names, scores, a block edge, and next
    * edges split across graphs (the path-closure scoping pivot).
    */
  private lazy val varGraphQuads: DataFrame = Seq(
    ("g:a", "e:1", ":name", "alpha", Option.empty[Double], false, Option.empty[String]),
    ("g:a", "e:1", ":score", "5", Some(5.0), false, None),
    ("g:a", "e:2", ":name", "beta", None, false, None),
    ("g:b", "e:3", ":name", "gamma", None, false, None),
    ("g:b", "e:3", ":score", "7", Some(7.0), false, None),
    ("g:b", "e:3", ":blocked", "y", None, false, None),
    // next edges: 1→2 lives in g:a, 2→4 in g:b — a closure that
    // crossed graphs would invent 1→4
    ("g:a", "e:1", ":next", "e:2", None, true, None),
    ("g:b", "e:2", ":next", "e:4", None, true, None),
    // e:2 has a score ONLY in g:b — the EXISTS-scoping pivot: a
    // union-graph EXISTS would wrongly see it from g:a
    ("g:b", "e:2", ":score", "1", Some(1.0), false, None))
    .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")

  private def runQ(q: String): Set[Map[String, String]] =
    bindings(Compiler.runQuads(varGraphQuads, SparqlParser.parse(q)))

  test("graph:var-group-optional — GRAPH ?g over an OPTIONAL body") {
    assert(runQ(
      """SELECT ?gr ?s ?n ?sc WHERE { GRAPH ?gr {
        |  ?s :name ?n OPTIONAL { ?s :score ?sc } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "n" -> "alpha", "sc" -> "5"),
        b("gr" -> "g:a", "s" -> "e:2", "n" -> "beta"),
        b("gr" -> "g:b", "s" -> "e:3", "n" -> "gamma", "sc" -> "7")))
  }

  test("graph:var-group-filter — GRAPH ?g over a FILTER body") {
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  ?s :name ?n FILTER(?n = "alpha" || ?n = "gamma") } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:3")))
  }

  test("graph:var-group-minus — MINUS scopes per graph under GRAPH ?g") {
    // e:3 is blocked in g:b (its own graph) → dropped there; g:a has
    // no blocks, so its names all survive
    assert(runQ(
      """SELECT ?gr ?s ?n WHERE { GRAPH ?gr {
        |  ?s :name ?n MINUS { ?s :blocked ?z } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "n" -> "alpha"),
        b("gr" -> "g:a", "s" -> "e:2", "n" -> "beta")))
  }

  test("graph:var-group-exists — EXISTS body is scoped to the active graph") {
    // e:2's only score lives in g:b, where it has no :name — so e:2
    // must NOT pass the g:a-scoped EXISTS (the union graph would let
    // it leak through)
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  ?s :name ?n FILTER EXISTS { ?s :score ?sc } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:3")))
  }

  test("graph:nested-const-in-var — inner GRAPH re-scopes, not ours") {
    // the nested constant GRAPH matches in g:b regardless of ?gr
    assert(runQ(
      """SELECT ?gr ?n ?n2 WHERE { GRAPH ?gr {
        |  ?s :name ?n GRAPH <g:b> { ?s2 :name ?n2 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "n" -> "alpha", "n2" -> "gamma"),
        b("gr" -> "g:a", "n" -> "beta", "n2" -> "gamma"),
        b("gr" -> "g:b", "n" -> "gamma", "n2" -> "gamma")))
  }

  test("graph:const-group-exists — EXISTS inside GRAPH <g> reads the slice") {
    assert(runQ(
      """SELECT ?s WHERE { GRAPH <g:a> {
        |  ?s :name ?n FILTER EXISTS { ?s :score ?sc } } }""".stripMargin) ==
      Set(b("s" -> "e:1")))
  }

  test("graph:var-group-values — inline VALUES under GRAPH ?g stays per-graph") {
    assert(runQ(
      """SELECT ?gr ?s ?n WHERE { GRAPH ?gr {
        |  ?s :name ?n VALUES ?n { "alpha" "gamma" } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "n" -> "alpha"),
        b("gr" -> "g:b", "s" -> "e:3", "n" -> "gamma")))
  }

  // ---- r17: graph-independent (VALUES) operands under GRAPH ?g ----
  // §13.3: EVERY branch of the body solves per named graph — a VALUES
  // operand whose composition leaves ?g unbound must be replicated
  // per graph (the GraphNames frame), never padded to a null ?g.

  test("graph:var-values-union-branch — a pure VALUES UNION branch solves per graph") {
    // the VALUES rows are graph-independent: they appear once PER
    // NAMED GRAPH with ?gr bound, not once with ?gr unbound
    assert(runQ(
      """SELECT ?gr ?s ?n WHERE { GRAPH ?gr {
        |  { ?s :name ?n } UNION { VALUES (?s ?n) { (<e:9> "iota") } } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "n" -> "alpha"),
        b("gr" -> "g:a", "s" -> "e:2", "n" -> "beta"),
        b("gr" -> "g:b", "s" -> "e:3", "n" -> "gamma"),
        b("gr" -> "g:a", "s" -> "e:9", "n" -> "iota"),
        b("gr" -> "g:b", "s" -> "e:9", "n" -> "iota")))
  }

  test("graph:var-values-optional-left — VALUES as the OPTIONAL left keeps per-graph scope") {
    // e:1 scores only in g:a, e:3 only in g:b — each graph extends
    // its own rows and null-pads the other's
    assert(runQ(
      """SELECT ?gr ?s ?sc WHERE { GRAPH ?gr {
        |  VALUES ?s { <e:1> <e:3> } OPTIONAL { ?s :score ?sc } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "sc" -> "5"),
        b("gr" -> "g:a", "s" -> "e:3"),
        b("gr" -> "g:b", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:3", "sc" -> "7")))
  }

  test("graph:var-values-minus-left — VALUES as the MINUS left keeps per-graph scope") {
    // e:3 is blocked only in g:b: it must survive g:a's evaluation
    // (pre-fix, the threaded MINUS removed it from BOTH graphs)
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  VALUES ?s { <e:1> <e:3> } MINUS { ?s :blocked ?z } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:a", "s" -> "e:3"),
        b("gr" -> "g:b", "s" -> "e:1")))
  }

  test("graph:var-values-minus-disjoint — §8.3 disjoint domains keep the row in every graph") {
    // no shared variable between the sides → MINUS removes nothing,
    // in each graph (the graph var must NOT enter the disjointness
    // decision)
    assert(runQ(
      """SELECT ?gr ?x WHERE { GRAPH ?gr {
        |  VALUES ?x { "q" } MINUS { ?s :name ?n } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "x" -> "q"),
        b("gr" -> "g:b", "x" -> "q")))
  }

  test("graph:var-values-exists — EXISTS over a VALUES input keys on the active graph") {
    // scores: e:1 in g:a; e:2 and e:3 in g:b
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  VALUES ?s { <e:1> <e:2> <e:3> }
        |  FILTER EXISTS { ?s :score ?sc } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:2"),
        b("gr" -> "g:b", "s" -> "e:3")))
  }

  test("graph:var-values-bind-exists — BIND(IF(EXISTS…)) over a VALUES input") {
    assert(runQ(
      """SELECT ?gr ?s ?f WHERE { GRAPH ?gr {
        |  VALUES ?s { <e:1> }
        |  BIND(IF(EXISTS { ?s :score ?sc }, "y", "n") AS ?f) } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "f" -> "y"),
        b("gr" -> "g:b", "s" -> "e:1", "f" -> "n")))
  }

  test("graph:var-group-path — path closure never crosses graphs") {
    // per-graph evaluation: 1→2 only in g:a, 2→4 only in g:b; a
    // union-dataset closure would fabricate 1→4
    assert(runQ(
      "SELECT ?gr ?x ?y WHERE { GRAPH ?gr { ?x :next+ ?y } }") ==
      Set(b("gr" -> "g:a", "x" -> "e:1", "y" -> "e:2"),
        b("gr" -> "g:b", "x" -> "e:2", "y" -> "e:4")))
  }

  // ---- r16: one-pass GRAPH ?g over paths / sub-SELECT / EXISTS ----

  test("graph:var-path-bound-endpoints — seeded closures stay per-graph") {
    // bound subject: the BFS seeds <e:1> in EVERY graph; only g:a has
    // an outgoing edge
    assert(runQ(
      "SELECT ?gr ?y WHERE { GRAPH ?gr { <e:1> :next+ ?y } }") ==
      Set(b("gr" -> "g:a", "y" -> "e:2")))
    // bound object: backward-seeded — e:4 is reached only within g:b
    assert(runQ(
      "SELECT ?gr ?x WHERE { GRAPH ?gr { ?x :next+ <e:4> } }") ==
      Set(b("gr" -> "g:b", "x" -> "e:2")))
  }

  test("graph:var-path-star — zero-length pairs bind every named graph") {
    // §9.3 per active graph: <e:1> relates to itself in BOTH graphs;
    // the one-hop arm only matches in g:a
    assert(runQ(
      "SELECT ?gr ?y WHERE { GRAPH ?gr { <e:1> :next* ?y } }") ==
      Set(b("gr" -> "g:a", "y" -> "e:1"),
        b("gr" -> "g:b", "y" -> "e:1"),
        b("gr" -> "g:a", "y" -> "e:2")))
  }

  test("graph:var-path-optional — path composes with OPTIONAL per graph") {
    // e:2's score lives only in g:b: the g:a path solution must NOT
    // pick it up (per-graph OPTIONAL), the g:b solution has none for
    // e:4 either
    assert(runQ(
      """SELECT ?gr ?x ?y ?sc WHERE { GRAPH ?gr {
        |  ?x :next+ ?y OPTIONAL { ?y :score ?sc } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "x" -> "e:1", "y" -> "e:2"),
        b("gr" -> "g:b", "x" -> "e:2", "y" -> "e:4")))
  }

  test("graph:var-exists-path — a path inside an EXISTS body under GRAPH ?g") {
    // only e:1 has an outgoing :next+ within its naming graph
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  ?s :name ?n FILTER EXISTS { ?s :next+ ?y } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1")))
  }

  test("graph:var-subselect-agg — grouped aggregate evaluates per graph") {
    assert(runQ(
      """SELECT ?gr ?s ?cnt WHERE { GRAPH ?gr {
        |  { SELECT ?s (COUNT(?o2) AS ?cnt) WHERE { ?s :name ?o2 }
        |    GROUP BY ?s } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "cnt" -> "1"),
        b("gr" -> "g:a", "s" -> "e:2", "cnt" -> "1"),
        b("gr" -> "g:b", "s" -> "e:3", "cnt" -> "1")))
  }

  test("graph:var-subselect-distinct — DISTINCT subquery stays per-graph") {
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT DISTINCT ?s WHERE { ?s :next ?y } } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:2")))
  }

  test("graph:var-subselect-limit — ORDER BY + LIMIT cuts PER GRAPH") {
    // one pass: the window partitions on ?gr — a global LIMIT 1 would
    // keep one row total instead of one per graph
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :name ?n } ORDER BY ?s LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:3")))
    // OFFSET skips per graph too: g:a has a second subject, g:b not
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :name ?n } ORDER BY ?s OFFSET 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:2")))
    // DESC order flips which subject survives the per-graph cut
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :name ?n } ORDER BY DESC(?s) LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:2"),
        b("gr" -> "g:b", "s" -> "e:3")))
  }

  test("graph:var-subselect-global-agg — every named graph yields a row") {
    // §18.5: a global aggregate yields one row per active graph EVEN
    // when the slice matches nothing — g:a has no :blocked triple, so
    // its COUNT row is 0 (a graph-grouped fold alone would drop it)
    assert(runQ(
      """SELECT ?gr ?c WHERE { GRAPH ?gr {
        |  { SELECT (COUNT(?z) AS ?c) WHERE { ?s :blocked ?z } } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "c" -> "0"),
        b("gr" -> "g:b", "c" -> "1")))
    // SUM over the match-free graph is 0 (§18.5.1.3); MIN is unbound
    assert(runQ(
      """SELECT ?gr ?t ?m WHERE { GRAPH ?gr {
        |  { SELECT (SUM(?sc) AS ?t) (MIN(?n) AS ?m)
        |    WHERE { ?s :blocked ?z . ?s :score ?sc . ?s :name ?n } } } }"""
        .stripMargin) ==
      Set(b("gr" -> "g:a", "t" -> "0"),
        b("gr" -> "g:b", "t" -> "7", "m" -> "gamma")))
  }

  test("graph:var-global-agg-having — HAVING applies AFTER the §18.5 empty-group fill") {
    // per §18.5.1 Group((), Ω) = {() → Ω} even for empty Ω: the
    // match-free graph's COUNT-0 row EXISTS and HAVING filters it.
    // Outcome 1: the filled row FAILS the constraint — only g:b
    // (count 1) survives
    assert(runQ(
      """SELECT ?gr ?c WHERE { GRAPH ?gr {
        |  { SELECT (COUNT(?z) AS ?c) WHERE { ?s :blocked ?z }
        |    HAVING (COUNT(?z) > 0) } } }""".stripMargin) ==
      Set(b("gr" -> "g:b", "c" -> "1")))
    // Outcome 2: the filled row PASSES — g:a's 0 is a real group row
    // the constraint keeps (an enumerate-then-drop plan and a
    // fill-then-HAVING plan agree here; a HAVING-before-fill plan
    // would lose g:a)
    assert(runQ(
      """SELECT ?gr ?c WHERE { GRAPH ?gr {
        |  { SELECT (COUNT(?z) AS ?c) WHERE { ?s :blocked ?z }
        |    HAVING (COUNT(?z) >= 0) } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "c" -> "0"),
        b("gr" -> "g:b", "c" -> "1")))
    // §11.4: the HAVING aggregate need not be projected — the hidden
    // SUM threads through the fill too (g:a fills SUM=0 → dropped;
    // g:b's scores sum to 8 → kept)
    assert(runQ(
      """SELECT ?gr ?c WHERE { GRAPH ?gr {
        |  { SELECT (COUNT(?sc) AS ?c) WHERE { ?s :score ?sc }
        |    HAVING (SUM(?sc) > 5) } } }""".stripMargin) ==
      Set(b("gr" -> "g:b", "c" -> "2")))
  }

  test("graph:var-subselect-unordered-limit — LIMIT without ORDER BY cuts per graph") {
    // §18.2.5.3 leaves the un-ordered slice's CHOICE free; its
    // CARDINALITY is not free — one row per graph here (g:a has two
    // name solutions, g:b one), and every returned row must be a
    // real solution of its graph
    val got = runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :name ?n } LIMIT 1 } } }""".stripMargin)
    assert(got.size == 2, s"one row per graph, got $got")
    assert(got.map(_("gr")) == Set("g:a", "g:b"))
    val valid = Set(("g:a", "e:1"), ("g:a", "e:2"), ("g:b", "e:3"))
    assert(got.forall(m => valid.contains((m("gr"), m("s")))))
    // OFFSET without ORDER BY skips per graph: g:a retains one of its
    // two solutions, g:b (one solution) retains none
    val off = runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :name ?n } OFFSET 1 } } }""".stripMargin)
    assert(off.size == 1 && off.head("gr") == "g:a")
  }

  test("graph:var-subselect-grouped-topk — grouped aggregate + ordered LIMIT cuts per graph") {
    // top-1 subject by name-count per graph: g:a counts e:1→1, e:2→1
    // (tie broken ascending by ?s), g:b counts e:3→1 — one row per
    // graph, and a match-free grouping never invents a row
    assert(runQ(
      """SELECT ?gr ?s ?c WHERE { GRAPH ?gr {
        |  { SELECT ?s (COUNT(?n) AS ?c) WHERE { ?s :name ?n }
        |    GROUP BY ?s ORDER BY DESC(?c) ?s LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "c" -> "1"),
        b("gr" -> "g:b", "s" -> "e:3", "c" -> "1")))
    // the numeric sort key orders by VALUE: e:1 has two scored rows
    // in no graph, but g:b's scores (7 for e:3, 1 for e:2) rank by
    // the aggregate, not its lexical form
    assert(runQ(
      """SELECT ?gr ?s ?m WHERE { GRAPH ?gr {
        |  { SELECT ?s (MAX(?sc) AS ?m) WHERE { ?s :score ?sc }
        |    GROUP BY ?s ORDER BY DESC(?m) LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "m" -> "5"),
        b("gr" -> "g:b", "s" -> "e:3", "m" -> "7")))
  }

  test("graph:var-subselect-star-limit — SELECT * under a slice threads per graph") {
    // the star set is statically known (every where-var), so the
    // ordered cut windows per graph like an explicit projection
    assert(runQ(
      """SELECT ?gr ?s ?n WHERE { GRAPH ?gr {
        |  { SELECT * WHERE { ?s :name ?n }
        |    ORDER BY DESC(?n) LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:2", "n" -> "beta"),
        b("gr" -> "g:b", "s" -> "e:3", "n" -> "gamma")))
    // un-ordered star slice: per-graph cardinality only
    val got = runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT * WHERE { ?s :name ?n } LIMIT 1 } } }""".stripMargin)
    assert(got.size == 2 && got.map(_("gr")) == Set("g:a", "g:b"))
  }

  /** Numeric-score quads for the unprojected-sort-key probes (r18):
    * values chosen so LEXICAL ordering picks a different winner than
    * numeric ordering in every graph.
    */
  private lazy val ordQuads: DataFrame = Seq(
    ("g:a", "x:1", ":v", "5", Some(5.0), false, Option.empty[String]),
    ("g:a", "x:2", ":v", "40", Some(40.0), false, None),
    ("g:a", "x:3", ":v", "7", Some(7.0), false, None),
    ("g:b", "y:1", ":v", "10", Some(10.0), false, None),
    ("g:b", "y:2", ":v", "9", Some(9.0), false, None))
    .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")

  test("graph:var-values-union-optional — VALUES under a UNION-of-OPTIONAL branch replicates per graph") {
    // the VALUES branch is ?g-free until the GraphNames frame
    // replicates it: e:9 has no score in EITHER graph, so both
    // graphs carry its null-padded row next to the pattern branch's
    // per-graph OPTIONAL rows
    assert(runQ(
      """SELECT ?gr ?s ?sc WHERE { GRAPH ?gr {
        |  { ?s :name ?n OPTIONAL { ?s :score ?sc } }
        |  UNION
        |  { VALUES ?s { <e:9> } OPTIONAL { ?s :score ?sc } } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "sc" -> "5"),
        b("gr" -> "g:a", "s" -> "e:2"),
        b("gr" -> "g:b", "s" -> "e:3", "sc" -> "7"),
        b("gr" -> "g:a", "s" -> "e:9"),
        b("gr" -> "g:b", "s" -> "e:9")))
  }

  test("graph:var-values-exists-minus — EXISTS over a pure-VALUES input inside a MINUS right") {
    // the MINUS right side is VALUES + EXISTS: :blocked exists only
    // in g:b, so e:3 is removed from g:b's evaluation only — g:a
    // keeps its full name set
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  ?s :name ?n
        |  MINUS { VALUES ?s { <e:3> } FILTER EXISTS { ?s :blocked ?z } } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:a", "s" -> "e:2")))
  }

  test("graph:from-named-threaded-path — FROM NAMED restricts a threaded closure") {
    // §13.2 composing with the one-pass GRAPH ?g path: only g:a is
    // in the named set, so g:b's 2→4 edge must not contribute
    assert(runQ(
      """SELECT ?gr ?x ?y FROM NAMED <g:a>
        |WHERE { GRAPH ?gr { ?x :next+ ?y } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "x" -> "e:1", "y" -> "e:2")))
  }

  test("graph:var-unordered-slice-determinism — the synthesized cut is partitioning-invariant") {
    // §18.2.5.3 leaves an un-ordered slice's choice free; the engine
    // instantiates it with a deterministic full-projection sort, so
    // the SAME rows must come back under any physical partitioning
    val q = SparqlParser.parse(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :name ?n } LIMIT 1 } } }""".stripMargin)
    val r1 = bindings(Compiler.runQuads(varGraphQuads.repartition(1), q))
    val r7 = bindings(Compiler.runQuads(varGraphQuads.repartition(7), q))
    assert(r1 == r7)
    assert(r1.size == 2 && r1.map(_("gr")) == Set("g:a", "g:b"))
  }

  test("graph:var-subselect-unprojected-key — ORDER BY over an unprojected var cuts per graph") {
    // the sort key ?sc is NOT projected: it lifts into the window's
    // sort and is dropped after the cut — the binding maps must carry
    // ONLY ?gr/?s (a leaked lift would add a key to the maps)
    assert(bindings(Compiler.runQuads(varGraphQuads, SparqlParser.parse(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :score ?sc }
        |    ORDER BY DESC(?sc) LIMIT 1 } } }""".stripMargin))) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:3")))
  }

  test("graph:var-subselect-unprojected-numeric — lifted keys order numerically") {
    // 40 > 7 > 5 numerically but "7" > "5" > "40" lexically; 10 > 9
    // but "9" > "10" — a lexical sort picks the wrong winner in BOTH
    // graphs
    def q(mods: String) = bindings(Compiler.runQuads(ordQuads,
      SparqlParser.parse(
        s"""SELECT ?gr ?s WHERE { GRAPH ?gr {
           |  { SELECT ?s WHERE { ?s :v ?n } $mods } } }""".stripMargin)))
    assert(q("ORDER BY DESC(?n) LIMIT 1") ==
      Set(b("gr" -> "g:a", "s" -> "x:2"), b("gr" -> "g:b", "s" -> "y:1")))
    // OFFSET composes with the lifted key per graph
    assert(q("ORDER BY DESC(?n) OFFSET 1 LIMIT 1") ==
      Set(b("gr" -> "g:a", "s" -> "x:3"), b("gr" -> "g:b", "s" -> "y:2")))
    // an ORDER BY EXPRESSION desugars to a hidden __ord bind — also
    // unprojected, also lifted and dropped after the cut
    assert(q("ORDER BY (0 - ?n) LIMIT 1") ==
      Set(b("gr" -> "g:a", "s" -> "x:2"), b("gr" -> "g:b", "s" -> "y:1")))
  }

  test("graph:var-subselect-unprojected-optional-key — a sometimes-unbound lifted key sorts bound-first under DESC") {
    // the lifted sort key comes from an OPTIONAL: §15.1 puts unbound
    // lowest, so DESC ranks the bound row first in g:a (e:1 has a
    // score, e:2 does not)
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :name ?n OPTIONAL { ?s :score ?sc } }
        |    ORDER BY DESC(?sc) LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:3")))
  }

  test("graph:var-subselect-unprojected-ties — tied lifted keys inside the cut all survive") {
    // z:1/z:2 tie at 3: LIMIT 2 keeps both regardless of which the
    // window ranks first — the probe is deterministic AS A SET
    val tieQuads = Seq(
      ("g:c", "z:1", ":v", "3", Some(3.0), false, Option.empty[String]),
      ("g:c", "z:2", ":v", "3", Some(3.0), false, None),
      ("g:c", "z:3", ":v", "1", Some(1.0), false, None),
      ("g:d", "w:1", ":v", "2", Some(2.0), false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(bindings(Compiler.runQuads(tieQuads, SparqlParser.parse(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :v ?n }
        |    ORDER BY DESC(?n) LIMIT 2 } } }""".stripMargin))) ==
      Set(b("gr" -> "g:c", "s" -> "z:1"), b("gr" -> "g:c", "s" -> "z:2"),
        b("gr" -> "g:d", "s" -> "w:1")))
  }

  test("graph:var-global-agg-orderby — ORDER BY over a global aggregate is unobservable") {
    // without a slice, a subquery's solution order cannot be observed
    // through the enclosing join — the threaded plan drops it and the
    // answer matches the order-free form, match-free fill included
    assert(runQ(
      """SELECT ?gr ?c WHERE { GRAPH ?gr {
        |  { SELECT (COUNT(?z) AS ?c) WHERE { ?s :blocked ?z }
        |    ORDER BY ?c } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "c" -> "0"),
        b("gr" -> "g:b", "c" -> "1")))
  }

  test("graph:var-global-agg-limit — a sliced global aggregate still fills per graph") {
    // the per-graph solution sequence of a global aggregate is ONE
    // row, so LIMIT 1 keeps it — including the match-free graph's
    // COUNT-0 fill (a GLOBAL limit-1 plan would keep one row total)
    assert(runQ(
      """SELECT ?gr ?c WHERE { GRAPH ?gr {
        |  { SELECT (COUNT(?z) AS ?c) WHERE { ?s :blocked ?z }
        |    ORDER BY ?c LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "c" -> "0"),
        b("gr" -> "g:b", "c" -> "1")))
    // composed with HAVING: the surviving ≤1-row sequence is what the
    // slice keeps — only g:b's row exists to keep
    assert(runQ(
      """SELECT ?gr ?c WHERE { GRAPH ?gr {
        |  { SELECT (COUNT(?z) AS ?c) WHERE { ?s :blocked ?z }
        |    HAVING (COUNT(?z) > 0) LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:b", "c" -> "1")))
  }

  test("graph:var-global-agg-having-min — an unbound MIN fill never passes equality HAVING") {
    // MIN over an empty multiset is an ERROR (§18.5.1): the match-free
    // graph's fill is unbound, and the HAVING comparison over it is an
    // error → dropped; the matching graph compares its real minimum
    assert(runQ(
      """SELECT ?gr ?m WHERE { GRAPH ?gr {
        |  { SELECT (MIN(?z) AS ?m) WHERE { ?s :blocked ?z }
        |    HAVING (MIN(?z) = "y") } } }""".stripMargin) ==
      Set(b("gr" -> "g:b", "m" -> "y")))
  }

  test("graph:var-bind-if-exists — BIND's EXISTS body reads the ACTIVE graph") {
    // e:2's only score lives in g:b where it has no name: under g:a
    // the BIND must see "none" — before r16 the threaded BIND's
    // EXISTS body compiled against the DEFAULT graph and leaked "has"
    assert(runQ(
      """SELECT ?gr ?s ?v WHERE { GRAPH ?gr {
        |  ?s :name ?n
        |  BIND(IF(EXISTS { ?s :score ?sc2 }, "has", "none") AS ?v) } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1", "v" -> "has"),
        b("gr" -> "g:a", "s" -> "e:2", "v" -> "none"),
        b("gr" -> "g:b", "s" -> "e:3", "v" -> "has")))
  }

  // ---- r16: collections, BNODE scoping, aggregate error corners ----

  private lazy val listData: DataFrame = Seq(
    // x:1 :tags (red green) — a well-formed two-cell list
    ("x:1", ":tags", "_:c1", Option.empty[Double], true, Option.empty[String]),
    ("_:c1", "rdf:first", "red", None, false, None),
    ("_:c1", "rdf:rest", "_:c2", None, true, None),
    ("_:c2", "rdf:first", "green", None, false, None),
    ("_:c2", "rdf:rest", "rdf:nil", None, true, None),
    // x:2 :tags (blue) — a one-cell list
    ("x:2", ":tags", "_:c3", None, true, None),
    ("_:c3", "rdf:first", "blue", None, false, None),
    ("_:c3", "rdf:rest", "rdf:nil", None, true, None))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  test("syntax:collection-in-pattern — ( ?a ) matches one-element lists") {
    // the collection desugars to fresh non-distinguished vars over
    // rdf:first/rdf:rest, anchored at rdf:nil — only x:2's list has
    // exactly one cell
    assert(run(listData,
      "SELECT ?x ?a WHERE { ?x :tags ( ?a ) }") ==
      Set(b("x" -> "x:2", "a" -> "blue")))
    // two-element form matches only x:1
    assert(run(listData,
      "SELECT ?x ?a ?b WHERE { ?x :tags ( ?a ?b ) }") ==
      Set(b("x" -> "x:1", "a" -> "red", "b" -> "green")))
    // () is the term rdf:nil — nothing here tags an empty list
    assert(run(listData, "SELECT ?x WHERE { ?x :tags () }") == Set.empty)
  }

  test("construct:collection-template — ( ?n ) mints a fresh cons cell") {
    val out = Graft.query(people,
      "CONSTRUCT { ?x :names ( ?n ) } WHERE { ?x :name ?n . ?x :mbox ?m }")
    val rows = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val names = rows.filter(_._2 == ":names")
    val firsts = rows.filter(_._2 == "rdf:first")
    val rests = rows.filter(_._2 == "rdf:rest")
    assert(names.length == 2 && firsts.length == 2 && rests.length == 2)
    // fresh cell per solution, bnode-shaped, rest closes at rdf:nil
    assert(names.map(_._3).distinct.length == 2)
    assert(names.forall(_._3.startsWith("_:")))
    assert(rests.forall(_._3 == "rdf:nil"))
    // linkage: each solution's cell carries that person's name
    val byCell = firsts.map(t => t._1 -> t._3).toMap
    assert(names.map(t => (t._1, byCell(t._3))).toSet ==
      Set(("p:alice", "Alice"), ("p:bob", "Bob")))
  }

  // ---- r17: shared-endpoint closures, computed-key error corners,
  // per-graph cut combos, multi-cell CONSTRUCT collections ----

  /** A chain (1→2→3) plus a 2-cycle (4⇄5) — the shared-endpoint
    * closure pivot: only the cycle nodes reach THEMSELVES via + .
    */
  private lazy val cycleData: DataFrame = Seq(
    ("e:1", ":next", "e:2"), ("e:2", ":next", "e:3"),
    ("e:4", ":next", "e:5"), ("e:5", ":next", "e:4"))
    .map(t => (t._1, t._2, t._3, Option.empty[Double], true,
      Option.empty[String]))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  test("path:star-shared-endpoint — ?x :p* ?x binds every term once") {
    // §9.3: the zero-length path relates every term of the graph to
    // itself — the cycle adds no duplicates (ALP visits each node
    // once), and the chain nodes appear despite never cycling
    assert(run(cycleData, "SELECT ?x WHERE { ?x :next* ?x }") ==
      Set(b("x" -> "e:1"), b("x" -> "e:2"), b("x" -> "e:3"),
        b("x" -> "e:4"), b("x" -> "e:5")))
  }

  test("path:plus-shared-endpoint — ?x :p+ ?x keeps only cycle members") {
    assert(run(cycleData, "SELECT ?x WHERE { ?x :next+ ?x }") ==
      Set(b("x" -> "e:4"), b("x" -> "e:5")))
    // seeded: a chain node does not reach itself through one-or-more
    assert(run(cycleData,
      "SELECT ?x WHERE { ?x :next+ ?x . FILTER(?x = <e:1>) }") == Set.empty)
    assert(run(cycleData,
      "SELECT ?x WHERE { ?x :next+ ?x . FILTER(?x = <e:4>) }") ==
      Set(b("x" -> "e:4")))
  }

  test("graph:var-path-shared-endpoint — per-graph zero-length terms, no cross-graph cycle") {
    // g:a holds 1→2, g:b holds 2→4 — a union-graph closure would see
    // no cycle either, but the ZERO-length terms must stay per graph:
    // e:4 self-pairs only in g:b, e:1 only in g:a
    import spark.implicits._
    val quads = Seq(
      ("g:a", "e:1", ":next", "e:2"), ("g:b", "e:2", ":next", "e:4"))
      .map(t => (t._1, t._2, t._3, t._4, Option.empty[Double], true,
        Option.empty[String]))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      "SELECT ?gr ?x WHERE { GRAPH ?gr { ?x :next* ?x } }"))) ==
      Set(b("gr" -> "g:a", "x" -> "e:1"), b("gr" -> "g:a", "x" -> "e:2"),
        b("gr" -> "g:b", "x" -> "e:2"), b("gr" -> "g:b", "x" -> "e:4")))
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      "SELECT ?gr ?x WHERE { GRAPH ?gr { ?x :next+ ?x } }"))) == Set.empty)
  }

  test("aggregates:distinct-errors-computed-key — error values drop under a computed group key") {
    // groups come from a COMPUTED key (UCASE over the raw tag);
    // SUM(DISTINCT) must collapse the duplicated 5 inside group A and
    // skip the non-numeric value (error algebra), never leaking it
    // into a neighboring group or nulling the whole fold
    val mixed = Seq(
      ("s:1", "a", "5", Some(5.0)), ("s:2", "A", "5", Some(5.0)),
      ("s:3", "a", "oops", Option.empty[Double]),
      ("s:4", "b", "7", Some(7.0)))
      .flatMap { case (s, g, v, num) => Seq(
        (s, ":grp", g, Option.empty[Double], false, Option.empty[String]),
        (s, ":v", v, num, false, None)) }
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(run(mixed,
      """SELECT ?k (SUM(DISTINCT ?v) AS ?t) (COUNT(DISTINCT ?v) AS ?c)
        |WHERE { ?s :grp ?g0 . ?s :v ?v }
        |GROUP BY (UCASE(?g0) AS ?k)""".stripMargin) ==
      Set(b("k" -> "A", "t" -> "5", "c" -> "2"),
        b("k" -> "B", "t" -> "7", "c" -> "1")))
  }

  test("graph:var-subselect-offset-limit — OFFSET and LIMIT compose per graph") {
    // g:a names: e:1 alpha, e:2 beta; g:b: e:3 gamma — DESC + OFFSET 1
    // LIMIT 1 keeps each graph's SECOND subject descending: e:1 in
    // g:a, nothing in g:b (only one row there)
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr {
        |  { SELECT ?s WHERE { ?s :name ?n }
        |    ORDER BY DESC(?s) OFFSET 1 LIMIT 1 } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1")))
  }

  test("construct:collection-template-multi — (\"tag\" ?n) chains two fresh cells") {
    val out = Graft.query(people,
      """CONSTRUCT { ?x :names ( "tag" ?n ) }
        |WHERE { ?x :name ?n . ?x :mbox ?m }""".stripMargin)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val names = rows.filter(_._2 == ":names")
    val firsts = rows.filter(_._2 == "rdf:first").map(t => t._1 -> t._3).toMap
    val rests = rows.filter(_._2 == "rdf:rest").map(t => t._1 -> t._3).toMap
    // 2 solutions × (1 :names + 2 first + 2 rest) = 10 triples
    assert(names.length == 2 && firsts.size == 4 && rests.size == 4)
    // per solution: head cell carries "tag", its rest chains to the
    // second cell carrying that person's name, closed at rdf:nil
    val expected = Set("Alice", "Bob")
    val got = names.map { case (_, _, cell1) =>
      assert(firsts(cell1) == "tag")
      val cell2 = rests(cell1)
      assert(rests(cell2) == "rdf:nil")
      firsts(cell2)
    }.toSet
    assert(got == expected)
  }

  test("bind:bnode-scoping-union — BNODE() is fresh per solution across branches") {
    // §17.4.2.9: BNODE() returns a DISTINCT blank node for every
    // solution — two UNION branches never share, and neither do two
    // solutions of one branch
    val out = Graft.sparql(people,
      """SELECT ?x ?bn WHERE {
        |  { ?x :mbox ?m BIND(BNODE() AS ?bn) }
        |  UNION { ?x :age ?a BIND(BNODE() AS ?bn) } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.length == 5, s"2 mbox + 3 age solutions, got ${out.length}")
    assert(out.map(_._2).distinct.length == 5,
      "every solution must mint a distinct blank node")
    assert(out.forall(_._2.startsWith("_:")))
  }

  test("aggregates:distinct-mixed-errors — SUM(DISTINCT) over a mixed column") {
    // ?v carries numbers (5, 5, 7) and one non-numeric string: the
    // engine's documented error-algebra skips non-numeric values in
    // numeric folds, and DISTINCT collapses the duplicated 5
    val mixed = Seq(
      ("s:1", ":v", "5", Some(5.0), false, Option.empty[String]),
      ("s:2", ":v", "5", Some(5.0), false, None),
      ("s:3", ":v", "7", Some(7.0), false, None),
      ("s:4", ":v", "oops", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(run(mixed,
      "SELECT (SUM(DISTINCT ?v) AS ?t) WHERE { ?s :v ?v }") ==
      Set(b("t" -> "12")))
    // COUNT(DISTINCT ?v) counts TERMS, not numeric values: the two
    // "5"s are one term, "oops" is still a term → 3
    assert(run(mixed,
      "SELECT (COUNT(DISTINCT ?v) AS ?c) WHERE { ?s :v ?v }") ==
      Set(b("c" -> "3")))
  }

  test("update:using-named-graph-where — USING NAMED bounds GRAPH in UPDATE WHERE") {
    import spark.implicits._
    // USING NAMED <g:a>: the WHERE's GRAPH ?g may match only g:a —
    // e:3 (named only in g:b) must not produce an insert
    val r1 = graft.Graft.updateQuads(varGraphQuads,
      """WITH <g:out> INSERT { ?s :flagged "y" }
        |USING NAMED <g:a> WHERE { GRAPH ?g { ?s :name ?n } }""".stripMargin)
    assert(r1.filter($"g" === "g:out" && $"p" === ":flagged")
      .select("s").as[String].collect().toSet == Set("e:1", "e:2"))
    // a CONSTANT graph outside the USING NAMED set matches nothing
    val r2 = graft.Graft.updateQuads(varGraphQuads,
      """WITH <g:out> INSERT { ?s :flagged "y" }
        |USING NAMED <g:a> WHERE { GRAPH <g:b> { ?s :name ?n } }""".stripMargin)
    assert(r2.filter($"g" === "g:out").isEmpty)
    // USING composes the DEFAULT graph while USING NAMED bounds GRAPH:
    // the default-graph pattern reads g:b, the GRAPH pattern g:a
    val r3 = graft.Graft.updateQuads(varGraphQuads,
      """WITH <g:out> INSERT { ?s :pair ?s2 }
        |USING <g:b> USING NAMED <g:a>
        |WHERE { ?s :name ?n . GRAPH ?g { ?s2 :name ?n2 } }""".stripMargin)
    assert(r3.filter($"g" === "g:out" && $"p" === ":pair")
      .select("s", "o").as[(String, String)].collect().toSet ==
      Set(("e:3", "e:1"), ("e:3", "e:2")))
    // a property path under GRAPH ?g inside UPDATE WHERE (r16
    // composition): only g:a's next+ pairs drive inserts
    val r4 = graft.Graft.updateQuads(varGraphQuads,
      """WITH <g:out> INSERT { ?x :reaches ?y }
        |USING NAMED <g:a> WHERE { GRAPH ?g { ?x :next+ ?y } }""".stripMargin)
    assert(r4.filter($"g" === "g:out" && $"p" === ":reaches")
      .select("s", "o").as[(String, String)].collect().toSet ==
      Set(("e:1", "e:2")))
  }

  test("syntax:collection-nested — ( ( ?a ) ?b ) recurses through objTerm") {
    // x:1 :wrap ((red) green): outer list = [inner, "green"], inner =
    // ["red"] — the nested collection desugars recursively
    val nested = Seq(
      ("x:1", ":wrap", "_:o1", Option.empty[Double], true, Option.empty[String]),
      ("_:o1", "rdf:first", "_:i1", None, true, None),
      ("_:o1", "rdf:rest", "_:o2", None, true, None),
      ("_:o2", "rdf:first", "green", None, false, None),
      ("_:o2", "rdf:rest", "rdf:nil", None, true, None),
      ("_:i1", "rdf:first", "red", None, false, None),
      ("_:i1", "rdf:rest", "rdf:nil", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(run(nested,
      "SELECT ?x ?a ?b WHERE { ?x :wrap ( ( ?a ) ?b ) }") ==
      Set(b("x" -> "x:1", "a" -> "red", "b" -> "green")))
  }

  test("bind:bnode-labeled — BNODE(str) is stable per argument") {
    // documented subset: same argument → same bnode (observable only
    // through joins), distinct arguments → distinct bnodes
    val out = Graft.sparql(people,
      """SELECT ?x ?b1 ?b2 ?b3 WHERE { ?x :mbox ?m
        |BIND(BNODE("k") AS ?b1) BIND(BNODE("k") AS ?b2)
        |BIND(BNODE(?x) AS ?b3) }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3)))
    assert(out.length == 2)
    assert(out.forall(t => t._2 == t._3), "same argument, same bnode")
    assert(out.forall(t => t._2 != t._4), "different argument, different bnode")
    assert(out.map(_._4).distinct.length == 2,
      "per-?x arguments mint per-?x bnodes")
    assert(out.forall(t => t._2.startsWith("_:") && t._4.startsWith("_:")))
  }

  test("aggregates:avg-distinct-errors — AVG(DISTINCT) skips error terms") {
    val mixed = Seq(
      ("s:1", ":v", "4", Some(4.0), false, Option.empty[String]),
      ("s:2", ":v", "4", Some(4.0), false, None),
      ("s:3", ":v", "8", Some(8.0), false, None),
      ("s:4", ":v", "bad", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // numeric DISTINCT domain {4, 8} → avg 6; the non-numeric term is
    // outside the numeric fold (engine error-algebra), and MIN/MAX
    // compare over the §15.1 order where numbers precede plain
    // literals lexically larger — pin the engine's value choice
    assert(run(mixed,
      "SELECT (AVG(DISTINCT ?v) AS ?a) WHERE { ?s :v ?v }") ==
      Set(b("a" -> "6")))
  }

  test("graph:var-exists-correlated — GRAPH ?g inside EXISTS correlates with outer ?g") {
    // the outer GRAPH binds ?gr; the EXISTS body re-enters GRAPH ?gr
    // (same var) — the body must match within the SAME graph as the
    // outer solution, not any graph
    assert(runQ(
      """SELECT ?gr ?s WHERE { GRAPH ?gr { ?s :name ?n }
        |FILTER EXISTS { GRAPH ?gr { ?s :score ?sc } } }""".stripMargin) ==
      Set(b("gr" -> "g:a", "s" -> "e:1"),
        b("gr" -> "g:b", "s" -> "e:3")))
  }

  test("optional:nested-inner-only — inner OPTIONAL extends only matched rows") {
    // nested OPTIONALs: the inner one evaluates within the outer
    // body's frame — dave (a Robot, no age) contributes nothing to
    // the inner; carol matches the outer (age) but not the inner
    // (mbox); alice and bob match both
    assert(run(people,
      """SELECT ?x ?a ?m WHERE { ?x rdf:type :Person
        |OPTIONAL { ?x :age ?a OPTIONAL { ?x :mbox ?m } } }""".stripMargin) ==
      Set(b("x" -> "p:alice", "a" -> "30", "m" -> "mailto:alice@work.example"),
        b("x" -> "p:bob", "a" -> "40", "m" -> "mailto:bob@work.example"),
        b("x" -> "p:carol", "a" -> "25")))
  }

  test("path:literal-endpoints — a literal object ends a path") {
    // §9.3: paths may end at literals; the pair relation compares the
    // lexical form (documented subset)
    assert(run(paths,
      "SELECT ?x WHERE { ?x :q/:r ?f . ?f :p* ?f }") ==
      Set(b("x" -> "n:a")))
    assert(run(paths,
      """SELECT ?x WHERE { ?x :s "lit1" }""") == Set(b("x" -> "n:a")))
    // zero-or-one to a literal: the one arm matches the :s edge AND
    // the zero arm relates "lit1" to ITSELF (§9.3 relates any term,
    // literals included, to itself) — ?x = "lit1" is a real solution
    assert(run(paths,
      """SELECT ?x WHERE { ?x :s? "lit1" }""") ==
      Set(b("x" -> "n:a"), b("x" -> "lit1")))
  }

  test("modifiers:distinct-order-offset — OFFSET cuts after DISTINCT + ORDER") {
    import spark.implicits._
    val got = Graft.sparql(people,
      """SELECT DISTINCT ?n WHERE { ?x :name ?n . ?x rdf:type ?t }
        |ORDER BY ?n OFFSET 1 LIMIT 2""".stripMargin)
      .select("n").as[String].collect().toSeq
    assert(got == Seq("Bob", "Carol"), s"got $got")
  }

  test("aggregates:groupby-expr-having — HAVING reads the grouped expression") {
    // group people by an age band expression and filter the groups on
    // an aggregate over it
    assert(run(people,
      """SELECT ?band (COUNT(?x) AS ?n) WHERE { ?x :age ?a
        |BIND(IF(?a >= 30, "old", "young") AS ?band) }
        |GROUP BY ?band HAVING (COUNT(?x) >= 2)""".stripMargin) ==
      Set(b("band" -> "old", "n" -> "2")))
  }

  test("negation:exists-unbound-shared — unbound outer var is FREE in the body") {
    // §8.1.1: substituting carol's UNBOUND ?m leaves it free, so her
    // body matches any (y, mbox) with y != carol; alice and bob bind
    // ?m to their own mbox, which no OTHER ?y carries → false
    assert(run(people,
      """SELECT ?x WHERE { ?x rdf:type :Person . OPTIONAL { ?x :mbox ?m }
        |FILTER EXISTS { ?y :mbox ?m . FILTER(?y != ?x) } }""".stripMargin) ==
      Set(b("x" -> "p:carol")))
    assert(run(people,
      """SELECT ?x WHERE { ?x rdf:type :Person . OPTIONAL { ?x :mbox ?m }
        |FILTER NOT EXISTS { ?y :mbox ?m . FILTER(?y != ?x) } }""".stripMargin) ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob")))
  }

  test("negation:exists-unbound-shared-marker — same semantics inside ||") {
    assert(run(people,
      """SELECT ?x WHERE { ?x rdf:type :Person . OPTIONAL { ?x :mbox ?m }
        |FILTER(EXISTS { ?y :mbox ?m . FILTER(?y != ?x) }
        |       || STRSTARTS(STR(?x), "p:a")) }""".stripMargin) ==
      Set(b("x" -> "p:alice"), b("x" -> "p:carol")))
  }

  test("order:ghost-sort-key — ORDER BY over a var bound nowhere is a no-op") {
    // §15.1 error algebra: an unbound sort key compares equal on
    // every row — the query returns all solutions, not an analysis
    // crash
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n } ORDER BY ?ghost") ==
      Set(b("n" -> "Alice"), b("n" -> "Bob"),
        b("n" -> "Carol"), b("n" -> "Dave")))
  }

  test("order:unbound-desc-last — DESC puts the unbound tier last") {
    val df = Graft.sparql(people,
      """SELECT ?n WHERE { ?x :name ?n OPTIONAL { ?x :age ?a } }
        |ORDER BY DESC(?a)""".stripMargin)
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("Bob", "Alice", "Carol", "Dave"))
  }

  test("aggregates:group-by-error-expr — erroring key expression forms the error group") {
    // dave has no age: FLOOR(?a / 10) errors for his row, which lands
    // in the unbound-key group rather than vanishing or crashing
    assert(run(people,
      """SELECT ?b (COUNT(?x) AS ?c) WHERE {
        |  ?x :name ?n OPTIONAL { ?x :age ?a }
        |} GROUP BY (FLOOR(?a / 10) AS ?b)""".stripMargin) ==
      Set(b("b" -> "3", "c" -> "1"), b("b" -> "4", "c" -> "1"),
        b("b" -> "2", "c" -> "1"), b("c" -> "1")))
  }

  test("update:using-named-var-graph — GRAPH ?g in WHERE ranges over USING NAMED only") {
    val quads = Seq(
      ("g:a", "x:1", ":n", "a", Option.empty[Double], false, Option.empty[String]),
      ("g:b", "x:2", ":n", "b", None, false, None),
      ("g:c", "x:3", ":n", "c", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    val out = Graft.updateQuads(quads,
      """WITH <g:out> INSERT { ?s :from ?g }
        |USING NAMED <g:a> USING NAMED <g:b>
        |WHERE { GRAPH ?g { ?s :n ?v } }""".stripMargin)
    assert(bindings(out.filter(org.apache.spark.sql.functions.col("p") === ":from")
      .select("g", "s", "o")) ==
      Set(b("g" -> "g:out", "s" -> "x:1", "o" -> "g:a"),
        b("g" -> "g:out", "s" -> "x:2", "o" -> "g:b")))
  }

  test("update:quad-data — GRAPH blocks inside INSERT DATA / DELETE DATA") {
    val quads = Seq(
      ("g:a", "x:1", ":n", "a", Option.empty[Double], false, Option.empty[String]))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    val ins = Graft.updateQuads(quads,
      """INSERT DATA { GRAPH <g:a> { <x:2> :n "b" }
        |              GRAPH <g:b> { <x:3> :n "c" } }""".stripMargin)
    assert(bindings(ins.select("g", "s", "o")) ==
      Set(b("g" -> "g:a", "s" -> "x:1", "o" -> "a"),
        b("g" -> "g:a", "s" -> "x:2", "o" -> "b"),
        b("g" -> "g:b", "s" -> "x:3", "o" -> "c")))
    // re-inserting the same data is a no-op (quad SET semantics)
    assert(Graft.updateQuads(ins,
      """INSERT DATA { GRAPH <g:a> { <x:2> :n "b" } }""").count() == 3)
    // delete is per-graph term identity: the same triple in g:b stays
    val del = Graft.updateQuads(ins,
      """DELETE DATA { GRAPH <g:a> { <x:1> :n "a" } }""")
    assert(bindings(del.select("g", "s", "o")) ==
      Set(b("g" -> "g:a", "s" -> "x:2", "o" -> "b"),
        b("g" -> "g:b", "s" -> "x:3", "o" -> "c")))
  }

  test("update:with-delete-insert — both templates write the WITH graph") {
    val quads = Seq(
      ("g:a", "x:1", ":n", "a", Option.empty[Double], false, Option.empty[String]),
      ("g:b", "x:2", ":n", "b", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    val out = Graft.updateQuads(quads,
      "WITH <g:a> DELETE { ?s :n ?v } INSERT { ?s :renamed ?v } WHERE { ?s :n ?v }")
    assert(bindings(out.select("g", "s", "p", "o")) ==
      Set(b("g" -> "g:a", "s" -> "x:1", "p" -> ":renamed", "o" -> "a"),
        b("g" -> "g:b", "s" -> "x:2", "p" -> ":n", "o" -> "b")))
  }

  test("bind:if-error-condition — an erroring IF condition leaves the BIND unbound") {
    // dave has no age: ?a > 28 is a type error for his row, and
    // §17.4.1.2 makes the whole IF an error → ?y unbound, row kept
    assert(run(people,
      """SELECT ?n ?y WHERE { ?x :name ?n OPTIONAL { ?x :age ?a }
        |BIND(IF(?a > 28, "hi", "lo") AS ?y) }""".stripMargin) ==
      Set(b("n" -> "Alice", "y" -> "hi"), b("n" -> "Bob", "y" -> "hi"),
        b("n" -> "Carol", "y" -> "lo"), b("n" -> "Dave")))
  }

  test("order:ghost-then-real — an unbound leading key defers to the next") {
    val df = Graft.sparql(people,
      "SELECT ?n WHERE { ?x :name ?n } ORDER BY ?ghost ?n")
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("Alice", "Bob", "Carol", "Dave"))
  }

  test("order:distinct-term-kinds — §15.1 tier survives DISTINCT") {
    import spark.implicits._
    val vs = Graft.sparql(mixedKinds,
      "SELECT DISTINCT ?v WHERE { ?x :v ?v } ORDER BY ?v")
      .as[String].collect().toSeq
    // blank < IRIs (lexical within the tier) < literal — lexical
    // order would interleave (apple before zz:iri2)
    assert(vs == Seq("_:b1", "ab:iri1", "zz:iri2", "apple"),
      s"tiered DISTINCT order, got $vs")
  }

  // ---- r15.b batch: construct / select-expr / VALUES / IN-error /
  // path negated-inverse / subquery-filter corners ---------------------

  test("construct:unbound-template-drop — §16.2 omits triples with unbound vars") {
    // carol has no mbox: her :hasMbox template triple is NOT
    // generated, but her :seen triple (fully bound) IS
    val out = Graft.query(people,
      """CONSTRUCT { ?x :hasMbox ?m . ?x :seen "y" } WHERE {
        |?x rdf:type :Person OPTIONAL { ?x :mbox ?m } }""".stripMargin)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("p:alice", ":hasMbox", "mailto:alice@work.example"),
      ("p:bob", ":hasMbox", "mailto:bob@work.example"),
      ("p:alice", ":seen", "y"), ("p:bob", ":seen", "y"),
      ("p:carol", ":seen", "y")))
  }

  test("select-expr:alias-reuse — a later SELECT expression reads an earlier alias") {
    // Extend composes left to right (§18.2.4.4): ?b is in scope for ?c
    assert(run(people,
      "SELECT (?a + 10 AS ?b) (?b * 2 AS ?c) WHERE { <p:alice> :age ?a }") ==
      Set(b("b" -> "40", "c" -> "80")))
  }

  test("bindings:values-empty — an empty VALUES block yields no solutions") {
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n VALUES ?x {} }") == Set.empty)
  }

  test("functions:in-error-after-match — TRUE || error is TRUE (§17.4.1.9)") {
    // IN desugars to a ||-chain of =: an erroring element (out-of-
    // scope var arithmetic) poisons rows whose earlier elements
    // didn't already match — alice (30) matched first, bob/carol drop
    assert(run(people,
      "SELECT ?n WHERE { ?x :name ?n . ?x :age ?a FILTER(?a IN (30, ?zzz + 1)) }") ==
      Set(b("n" -> "Alice")))
  }

  test("aggregates:count-distinct-star — duplicate full rows collapse") {
    assert(run(people,
      "SELECT (COUNT(DISTINCT *) AS ?n) WHERE { ?x :knows ?y }") ==
      Set(b("n" -> "3")))
  }

  test("functions:str-of-number — STR returns the lexical form") {
    assert(run(people,
      "SELECT (STR(?a) AS ?s) WHERE { <p:alice> :age ?a }") ==
      Set(b("s" -> "30")))
  }

  test("negation:not-exists-path-body — a property path inside NOT EXISTS") {
    // knows∘knows exists for alice (→carol) and bob (→dave); carol's
    // ends at dave who knows nobody; dave isn't a Person
    assert(run(people,
      """SELECT ?x WHERE { ?x rdf:type :Person
        |FILTER NOT EXISTS { ?x :knows/:knows ?z } }""".stripMargin) ==
      Set(b("x" -> "p:carol")))
  }

  test("subquery:outer-filter-on-inner-agg — FILTER reads the subquery alias") {
    assert(run(orgs,
      """SELECT ?d ?c WHERE {
        |  { SELECT ?d (COUNT(?e) AS ?c) WHERE { ?d :employee ?e } GROUP BY ?d }
        |  FILTER(?c > 1) }""".stripMargin) ==
      Set(b("d" -> "o:dep1", "c" -> "2")))
  }

  test("describe:absent-node — an unknown IRI describes to the empty graph") {
    assert(Graft.query(people, "DESCRIBE <p:nobody>").count() == 0)
  }

  test("graph:no-such-graph — a constant GRAPH over an absent name is empty") {
    val quads = Seq(
      ("g:a", "e:1", ":next", "e:2", Option.empty[Double], true, Option.empty[String]))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      "SELECT ?s WHERE { GRAPH <g:zzz> { ?s :next ?o } }"))) == Set.empty)
  }

  test("property-path:neg-set-mixed-inverse — !(f…|^r…) unions both directions") {
    // from n:a — forward except :p: :q→n:e, :s→lit1; reverse except
    // :p: none (only :p comes in) → {n:e, lit1}
    assert(run(paths, "SELECT ?y WHERE { <n:a> !(:p|^:p) ?y }") ==
      Set(b("y" -> "n:e"), b("y" -> "lit1")))
    // forward except :q,:s → :p→n:b; reverse except :r → ^:p from
    // n:d → {n:b, n:d}
    assert(run(paths, "SELECT ?y WHERE { <n:a> !(:q|:s|^:r) ?y }") ==
      Set(b("y" -> "n:b"), b("y" -> "n:d")))
  }

  test("aggregates:sample-empty — ungrouped SAMPLE over no solutions is unbound") {
    assert(run(people,
      "SELECT (SAMPLE(?m) AS ?s) WHERE { ?x :mbox ?m FILTER(?x = <p:nobody>) }") ==
      Set(b()))
  }

  // ---- r15.c batch: BIND/subquery scope, update snapshot, string
  // builtins, syntax forms ---------------------------------------------

  test("bind:sees-only-preceding-patterns — §10.1 closes the prior group") {
    // BIND evaluates against the PRECEDING elements only: ?a binds
    // after the BIND, so ?y is unbound for every row even though the
    // group eventually binds ?a
    assert(run(people,
      "SELECT ?n ?y WHERE { ?x :name ?n BIND(?a + 1 AS ?y) ?x :age ?a }") ==
      Set(b("n" -> "Alice"), b("n" -> "Bob"), b("n" -> "Carol")))
  }

  test("subquery:projection-hides-inner-vars — unprojected vars leave scope") {
    // ?y exists only inside the subquery; outside, BOUND(?y) is false
    assert(run(people,
      """SELECT ?x WHERE {
        |  { SELECT ?x WHERE { ?x :knows ?y } }
        |  FILTER(BOUND(?y)) }""".stripMargin) == Set.empty)
  }

  test("update:delete-insert-snapshot — both templates read the pre-state") {
    // the classic swap: both WHERE matches evaluate against the
    // ORIGINAL graph, so a and b exchange names atomically
    import spark.implicits._
    val g = Seq(
      ("x:a", ":name", "left", Option.empty[Double], false, Option.empty[String]),
      ("x:b", ":name", "right", None, false, None),
      ("x:a", ":swapWith", "x:b", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val out = Graft.update(g,
      """DELETE { ?p :name ?pn . ?q :name ?qn }
        |INSERT { ?p :name ?qn . ?q :name ?pn }
        |WHERE { ?p :swapWith ?q . ?p :name ?pn . ?q :name ?qn }""".stripMargin)
    assert(bindings(out.filter("p = ':name'").select("s", "o")) ==
      Set(b("s" -> "x:a", "o" -> "right"), b("s" -> "x:b", "o" -> "left")))
  }

  test("functions:replace-capture — $1 backreference substitutes the group") {
    assert(run(people,
      """SELECT (REPLACE(?n, "^(A)l", "$1L") AS ?r) WHERE { <p:alice> :name ?n }""") ==
      Set(b("r" -> "ALice")))
  }

  test("functions:concat-three-args — CONCAT is n-ary") {
    assert(run(people,
      """SELECT (CONCAT(?n, "-", ?n) AS ?r) WHERE { <p:bob> :name ?n }""") ==
      Set(b("r" -> "Bob-Bob")))
  }

  test("functions:contains-empty — every string contains the empty string") {
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n FILTER CONTAINS(?n, "") }""").size == 4)
  }

  test("syntax:predicate-object-list — ';' shares the subject") {
    assert(run(people,
      "SELECT ?n ?a WHERE { ?x :name ?n ; :age ?a . FILTER(?a > 35) }") ==
      Set(b("n" -> "Bob", "a" -> "40")))
  }

  test("modifiers:limit-without-order — a bare LIMIT slices some N rows") {
    assert(Graft.sparql(people,
      "SELECT ?n WHERE { ?x :name ?n } LIMIT 2").count() == 2)
  }

  test("aggregates:group-concat-default-separator — space, per §18.5.1.7") {
    val got = run(orgs,
      """SELECT (GROUP_CONCAT(?e) AS ?es) WHERE { <o:dep1> :employee ?e }""")
    assert(got.size == 1)
    val s = got.head("es")
    assert(s.split(" ").toSet == Set("o:emp1", "o:emp2"), s)
  }

  test("functions:uri-synonym — URI() and IRI() are the same builtin") {
    assert(run(people,
      """SELECT (URI(CONCAT("p:", "alice")) AS ?u) WHERE { <p:alice> :age ?a }
        |""".stripMargin) == Set(b("u" -> "p:alice")))
  }

  test("property-path:zeroone-both-vars — zero-length relates every graph term") {
    // §9.3 ZeroOrOnePath with both ends unbound: (t, t) for every
    // term IN the graph — subjects AND objects, literals included —
    // plus the one-hop :q pairs
    assert(run(paths, "SELECT ?x ?y WHERE { ?x :q? ?y }") ==
      Set(
        b("x" -> "n:a", "y" -> "n:a"), b("x" -> "n:b", "y" -> "n:b"),
        b("x" -> "n:c", "y" -> "n:c"), b("x" -> "n:d", "y" -> "n:d"),
        b("x" -> "n:e", "y" -> "n:e"), b("x" -> "n:f", "y" -> "n:f"),
        b("x" -> "lit1", "y" -> "lit1"),
        b("x" -> "n:a", "y" -> "n:e")))
  }

  test("aggregates:having-unprojected — HAVING names an aggregate SELECT omits") {
    // §11.4: the constraint aggregates over the group even when the
    // projection never asks for the value — a hidden aggregate
    // column computes it and is dropped after the filter
    assert(run(orgs,
      "SELECT ?d WHERE { ?d :employee ?e } GROUP BY ?d HAVING (COUNT(?e) > 1)") ==
      Set(b("d" -> "o:dep1")))
  }

  test("optional:filter-uses-outer-var — §8.1.1 inner filter reads the LHS") {
    // the W3C optional-filter family: a FILTER inside the OPTIONAL
    // referencing an outer var constrains the MATCH, never the
    // outer row's survival
    assert(run(people,
      """SELECT ?n ?m WHERE { ?x :name ?n . ?x :age ?a
        |OPTIONAL { ?x :mbox ?m FILTER(?a > 35) } }""".stripMargin) ==
      Set(b("n" -> "Alice"), b("n" -> "Carol"),
        b("n" -> "Bob", "m" -> "mailto:bob@work.example")))
  }

  // ---- r15.f batch: SELECT/ORDER BY expressions over aggregates ----
  // (§18.2.4.4 — the last parser-level rejections in the agg family)

  test("aggregates:agg-expr-ratio — SELECT expression over two aggregates") {
    // SUM(?s)/COUNT(?e) is a single SELECT expression with two
    // embedded aggregate calls — §18.2.4.4 evaluates it AFTER
    // grouping, over the aggregate results
    assert(run(orgs,
      """SELECT ?org (SUM(?s) AS ?tot) (SUM(?s)/COUNT(?e) AS ?avg)
        |WHERE { ?org :affiliates ?d . ?d :employee ?e . ?e :salary ?s }
        |GROUP BY ?org""".stripMargin) ==
      Set(b("org" -> "o:org1", "tot" -> "600", "avg" -> "200"),
        b("org" -> "o:org2", "tot" -> "400", "avg" -> "400")))
  }

  test("aggregates:agg-alias-reuse — later SELECT expression reads an aggregate alias") {
    assert(run(orgs,
      "SELECT (COUNT(?e) AS ?c) (?c * 10 AS ?d) WHERE { ?dep :employee ?e }") ==
      Set(b("c" -> "4", "d" -> "40")))
  }

  test("aggregates:order-by-agg — ORDER BY DESC(COUNT) reuses the projected fold") {
    val df = Graft.sparql(orgs,
      """SELECT ?dep (COUNT(?e) AS ?c) WHERE { ?dep :employee ?e }
        |GROUP BY ?dep ORDER BY DESC(COUNT(?e)) ASC(?dep)""".stripMargin)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("o:dep1", 2L), ("o:dep2", 1L), ("o:dep3", 1L)))
  }

  test("aggregates:order-by-hidden-agg — ORDER BY over an UNPROJECTED aggregate") {
    val df = Graft.sparql(orgs,
      """SELECT ?dep WHERE { ?dep :employee ?e }
        |GROUP BY ?dep ORDER BY DESC(COUNT(?e)) ASC(?dep)""".stripMargin)
    assert(df.columns.toSeq == Seq("dep"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("o:dep1", "o:dep2", "o:dep3"))
  }

  test("aggregates:agg-in-order-expr — ORDER BY expression combining aggregates") {
    // per-dept average salary: dep1 150, dep2 300, dep3 400
    val df = Graft.sparql(orgs,
      """SELECT ?dep WHERE { ?dep :employee ?e . ?e :salary ?s }
        |GROUP BY ?dep ORDER BY DESC(SUM(?s)/COUNT(?e))""".stripMargin)
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("o:dep3", "o:dep2", "o:dep1"))
  }

  test("aggregates:values-after-group — final VALUES joins the GROUPED solutions") {
    // §18.2.4: the query-final data block joins after grouping, so it
    // can constrain a group key without changing what aggregates see
    assert(run(orgs,
      """SELECT ?dep (COUNT(?e) AS ?c) WHERE { ?dep :employee ?e }
        |GROUP BY ?dep VALUES ?dep { o:dep1 }""".stripMargin) ==
      Set(b("dep" -> "o:dep1", "c" -> "2")))
  }

  test("aggregates:select-expr-group-key — expression over a group key beside aggregates") {
    assert(run(people,
      """SELECT ?n (CONCAT(?n, "!") AS ?u) (COUNT(?x) AS ?c)
        |WHERE { ?x :name ?n } GROUP BY ?n""".stripMargin) ==
      Set(b("n" -> "Alice", "u" -> "Alice!", "c" -> "1"),
        b("n" -> "Bob", "u" -> "Bob!", "c" -> "1"),
        b("n" -> "Carol", "u" -> "Carol!", "c" -> "1"),
        b("n" -> "Dave", "u" -> "Dave!", "c" -> "1")))
  }

  test("aggregates:agg-in-if — IF over an aggregate comparison") {
    assert(run(orgs,
      """SELECT ?org (IF(COUNT(?e) > 2, "big", "small") AS ?sz)
        |WHERE { ?org :affiliates ?d . ?d :employee ?e }
        |GROUP BY ?org""".stripMargin) ==
      Set(b("org" -> "o:org1", "sz" -> "big"),
        b("org" -> "o:org2", "sz" -> "small")))
  }

  test("distinct:order-by-expr — SELECT DISTINCT with an expression sort key") {
    // §18.2.5.3: the sort key is an expression over a PROJECTED var,
    // legal under DISTINCT; distinct evaluates before the sort
    val df = Graft.sparql(people,
      "SELECT DISTINCT ?n WHERE { ?x :name ?n } ORDER BY DESC(STRLEN(?n)) ?n")
    assert(df.columns.toSeq == Seq("n"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("Alice", "Carol", "Dave", "Bob"))
  }

  // ---- r15.j batch: TZ, graph-var aggregation, regex/group corners --

  test("paths:range-min — {n,} matches n or more hops") {
    // alice→bob→carol→dave (:knows chain, no cycle)
    assert(run(people,
      "SELECT ?y WHERE { <p:alice> :knows{2,} ?y }") ==
      Set(b("y" -> "p:carol"), b("y" -> "p:dave")))
    assert(run(people,
      "SELECT ?x ?y WHERE { ?x :knows{2,} ?y }") ==
      Set(b("x" -> "p:alice", "y" -> "p:carol"),
        b("x" -> "p:alice", "y" -> "p:dave"),
        b("x" -> "p:bob", "y" -> "p:dave")))
    // constant object: the closure arm seeds backward
    assert(run(people,
      "SELECT ?x WHERE { ?x :knows{2,} <p:dave> }") ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob")))
    // {1,} degenerates to +
    assert(run(people,
      "SELECT ?y WHERE { <p:carol> :knows{1,} ?y }") ==
      Set(b("y" -> "p:dave")))
  }

  test("paths:seq-range-min — {n,} over a parenthesized sequence") {
    // (:knows/:knows) is the two-hop edge; {1,} closes over it
    assert(run(people,
      "SELECT ?x ?y WHERE { ?x (:knows/:knows){1,} ?y }") ==
      Set(b("x" -> "p:alice", "y" -> "p:carol"),
        b("x" -> "p:bob", "y" -> "p:dave")))
  }

  test("datetime:tz-builtin — TZ returns the zone suffix, '' when absent") {
    assert(run(zonedTimes,
      """SELECT ?x ?z WHERE { ?x :at ?t . BIND(TZ(?t) AS ?z)
        |FILTER(?x IN (e:1, e:2, e:5)) }""".stripMargin) ==
      Set(b("x" -> "e:1", "z" -> "+02:00"),
        b("x" -> "e:2", "z" -> "Z"),
        b("x" -> "e:5", "z" -> "")))
  }

  test("aggregates:graph-var-count — COUNT groups by the graph variable") {
    val quads = Seq(
      ("g:a", "e:1", ":next", "e:2", Option.empty[Double], true, Option.empty[String]),
      ("g:a", "e:2", ":next", "e:3", None, true, None),
      ("g:b", "e:3", ":next", "e:4", None, true, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(bindings(Compiler.runQuads(quads, SparqlParser.parse(
      """SELECT ?g (COUNT(?s) AS ?c) WHERE { GRAPH ?g { ?s :next ?o } }
        |GROUP BY ?g""".stripMargin))) ==
      Set(b("g" -> "g:a", "c" -> "2"), b("g" -> "g:b", "c" -> "1")))
  }

  test("functions:regex-anchors — ^ and $ anchor the whole lexical form") {
    assert(run(people,
      """SELECT ?n WHERE { ?x :name ?n . FILTER(REGEX(?n, "^A.*e$")) }""") ==
      Set(b("n" -> "Alice")))
  }

  test("groupby:if-expr-key — a conditional expression as the group key") {
    assert(run(people,
      """SELECT ?band (COUNT(?x) AS ?c) WHERE { ?x :age ?a }
        |GROUP BY (IF(?a > 28, "adult", "minor") AS ?band)""".stripMargin) ==
      Set(b("band" -> "adult", "c" -> "2"), b("band" -> "minor", "c" -> "1")))
  }

  // ---- r15.i batch: BASE, empty IN, EXISTS-in-IF, subquery corners --

  test("prologue:base-relative — BASE resolves relative IRIs") {
    assert(run(people,
      """BASE <p:>
        |SELECT ?n WHERE { <alice> :name ?n }""".stripMargin) ==
      Set(b("n" -> "Alice")))
  }

  test("prologue:base-and-prefix — BASE and PREFIX compose") {
    assert(run(people,
      """BASE <p:>
        |PREFIX foaf: <:>
        |SELECT ?n WHERE { <bob> foaf:name ?n }""".stripMargin) ==
      Set(b("n" -> "Bob")))
  }

  test("expressions:in-empty — IN () is false, NOT IN () is true") {
    assert(run(people,
      "SELECT ?x WHERE { ?x :age ?a . FILTER(?a IN ()) }") == Set.empty)
    assert(run(people,
      "SELECT ?x WHERE { ?x :age ?a . FILTER(?a NOT IN ()) }") ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob"), b("x" -> "p:carol")))
  }

  test("functions:exists-in-if — EXISTS as an IF condition in BIND") {
    assert(run(people,
      """SELECT ?x ?v WHERE { ?x rdf:type :Person .
        |BIND(IF(EXISTS { ?x :mbox ?m }, "has", "none") AS ?v) }""".stripMargin) ==
      Set(b("x" -> "p:alice", "v" -> "has"),
        b("x" -> "p:bob", "v" -> "has"),
        b("x" -> "p:carol", "v" -> "none")))
  }

  test("minus:filter-inside — the MINUS side applies its own filter first") {
    // only people with age > 28 are subtracted
    assert(run(people,
      """SELECT ?x WHERE { ?x rdf:type :Person .
        |MINUS { ?x :age ?a . FILTER(?a > 28) } }""".stripMargin) ==
      Set(b("x" -> "p:carol")))
  }

  test("subquery:having-inside — a subquery's HAVING prunes before the outer join") {
    assert(run(orgs,
      """SELECT ?dep ?c WHERE {
        |  ?org :affiliates ?dep .
        |  { SELECT ?dep (COUNT(?e) AS ?c) WHERE { ?dep :employee ?e }
        |    GROUP BY ?dep HAVING (COUNT(?e) > 1) }
        |}""".stripMargin) ==
      Set(b("dep" -> "o:dep1", "c" -> "2")))
  }

  test("construct:where-path — CONSTRUCT over a property-path WHERE") {
    val out = Graft.query(people,
      "CONSTRUCT { ?x :reaches ?y } WHERE { ?x (:knows)+ ?y . ?y rdf:type :Robot }")
    val rows = out.collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(rows == Set(("p:alice", "p:dave"), ("p:bob", "p:dave"),
      ("p:carol", "p:dave")))
  }

  // ---- r15.h batch: builtin corners (BNODE, string args, slices) ----

  test("update:insert-template-bnode — INSERT mints a fresh node per solution") {
    // Update §3.1.3 shares the CONSTRUCT §16.2.1 rule: the bracketed
    // property list in the INSERT template creates one fresh bnode
    // per WHERE solution, linking each person to their own card
    val store = Seq(
      ("p:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]),
      ("p:2", ":name", "bob", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val out = graft.Graft.update(store,
      "INSERT { ?x :card [ :label ?n ] } WHERE { ?x :name ?n }")
    assert(out.count() == 6)
    val cards = out.filter($"p" === ":card").select("s", "o").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(cards.length == 2 && cards.map(_._2).distinct.length == 2)
    assert(cards.forall(_._2.startsWith("_:")))
    val labels = out.filter($"p" === ":label").select("s", "o").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(cards.map { case (person, node) => (person, labels(node)) }.toSet ==
      Set(("p:1", "ann"), ("p:2", "bob")))
  }

  test("update:delete-template-bnode-rejected — blank nodes are illegal in DELETE") {
    val store = Seq(
      ("p:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    intercept[IllegalArgumentException] {
      graft.Graft.update(store,
        "DELETE { ?x :card [ :label ?n ] } WHERE { ?x :name ?n }")
    }
  }

  test("functions:bnode-fresh — BNODE() mints a distinct blank node per row") {
    val df = Graft.sparql(people,
      """SELECT ?x ?b WHERE { ?x :name ?n . BIND(BNODE() AS ?b)
        |FILTER(isBlank(?b)) }""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(1)).distinct.length == 4)
    assert(rows.forall(_.getString(1).startsWith("_:")))
  }

  test("functions:bnode-arg — BNODE(str) is stable per argument") {
    val out = run(people,
      """SELECT ?x ?same WHERE { ?x :age ?a .
        |BIND(BNODE("k") AS ?b1) . BIND(BNODE("k") AS ?b2)
        |BIND(IF(?b1 = ?b2, "yes", "no") AS ?same) }""".stripMargin)
    assert(out.forall(_.get("same").contains("yes")))
    assert(out.size == 3)
  }

  test("functions:strbefore-lang — STRBEFORE keeps the argument's language tag") {
    // §17.4.3.8: a found match returns a literal with the first
    // argument's language; lang() must see it through the BIND
    assert(run(people,
      """SELECT ?l WHERE { <p:alice> :greeting ?g . FILTER(LANG(?g) = "en")
        |BIND(STRBEFORE(?g, "llo") AS ?pre) . BIND(LANG(?pre) AS ?l) }""".stripMargin) ==
      Set(b("l" -> "en")))
  }

  test("functions:concat-lang — CONCAT keeps the tag only when ALL args share it") {
    // same-tag args → tagged result; mixing with a plain literal
    // drops to a simple literal (empty lang)
    assert(run(people,
      """SELECT ?l1 ?l2 WHERE { <p:alice> :greeting ?g . FILTER(LANG(?g) = "en")
        |BIND(CONCAT(?g, ?g) AS ?both) . BIND(LANG(?both) AS ?l1)
        |BIND(CONCAT(?g, "!") AS ?mix) . BIND(LANG(?mix) AS ?l2) }""".stripMargin) ==
      Set(b("l1" -> "en", "l2" -> "")))
  }

  test("functions:substr-one-based — SUBSTR indexes from 1, per xsd:substring") {
    assert(run(people,
      """SELECT ?a ?b WHERE { <p:alice> :name ?n .
        |BIND(SUBSTR(?n, 2) AS ?a) . BIND(SUBSTR(?n, 1, 3) AS ?b) }""".stripMargin) ==
      Set(b("a" -> "lice", "b" -> "Ali")))
  }

  test("modifiers:limit-zero — LIMIT 0 is the empty sequence") {
    assert(run(people, "SELECT ?x WHERE { ?x :name ?n } LIMIT 0") == Set.empty)
  }

  test("modifiers:offset-beyond — OFFSET past the result is empty") {
    assert(run(people, "SELECT ?x WHERE { ?x :name ?n } OFFSET 100") == Set.empty)
  }

  test("aggregates:nested-agg-rejected — an aggregate inside an aggregate is a loud error") {
    intercept[IllegalArgumentException] {
      Graft.sparql(people,
        "SELECT (SUM(COUNT(?x)) AS ?s) WHERE { ?x :name ?n }").collect()
    }
  }

  test("aggregates:values-joins-agg-output — final VALUES constrains an aggregate result") {
    // the data block joins the grouped solutions on the COUNT column
    assert(run(orgs,
      """SELECT ?dep (COUNT(?e) AS ?c) WHERE { ?dep :employee ?e }
        |GROUP BY ?dep VALUES ?c { 2 }""".stripMargin) ==
      Set(b("dep" -> "o:dep1", "c" -> "2")))
  }

  test("functions:negative-literal — comparison and arithmetic with negatives") {
    assert(run(people,
      "SELECT ?x WHERE { ?x :age ?a . FILTER(?a - 35 > -6) }") ==
      Set(b("x" -> "p:alice"), b("x" -> "p:bob")))
  }

  // ---- r15.g batch: HAVING expressions + DISTINCT aggregate forms ----

  private lazy val dupVals: DataFrame = Seq(
    ("d:a", ":v", "2", Some(2.0), false, Option.empty[String]),
    ("d:b", ":v", "2", Some(2.0), false, None),
    ("d:c", ":v", "5", Some(5.0), false, None))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  test("aggregates:avg-distinct — AVG(DISTINCT) means the value SET") {
    // plain AVG = (2+2+5)/3 = 3; distinct AVG = (2+5)/2 = 3.5
    assert(run(dupVals,
      "SELECT (AVG(DISTINCT ?x) AS ?ad) (AVG(?x) AS ?a) WHERE { ?s :v ?x }") ==
      Set(b("ad" -> "3.5", "a" -> "3")))
  }

  test("aggregates:min-max-distinct-noop — DISTINCT is a no-op for extremes") {
    assert(run(dupVals,
      "SELECT (MIN(DISTINCT ?x) AS ?mn) (MAX(DISTINCT ?x) AS ?mx) WHERE { ?s :v ?x }") ==
      Set(b("mn" -> "2", "mx" -> "5")))
  }

  test("aggregates:count-distinct-expr — COUNT(DISTINCT expr) counts distinct evaluations") {
    // name lengths {5, 3, 5, 4} → 3 distinct
    assert(run(people,
      "SELECT (COUNT(DISTINCT STRLEN(?n)) AS ?c) WHERE { ?x :name ?n }") ==
      Set(b("c" -> "3")))
  }

  test("aggregates:group-concat-expr — GROUP_CONCAT over an expression") {
    assert(run(people,
      """SELECT (GROUP_CONCAT(UCASE(?n); SEPARATOR=",") AS ?all)
        |WHERE { ?x :name ?n }""".stripMargin) ==
      Set(b("all" -> "ALICE,BOB,CAROL,DAVE")))
  }

  test("aggregates:having-ratio — HAVING over an aggregate ratio") {
    // org1 mean salary 200, org2 400 — only org2 clears 250
    assert(run(orgs,
      """SELECT ?org (COUNT(?e) AS ?c)
        |WHERE { ?org :affiliates ?d . ?d :employee ?e . ?e :salary ?s }
        |GROUP BY ?org HAVING (SUM(?s)/COUNT(?e) > 250)""".stripMargin) ==
      Set(b("org" -> "o:org2", "c" -> "1")))
  }

  test("aggregates:having-agg-arith — HAVING compares two aggregates") {
    // SUM − MAX > 0 keeps groups with more than one distinct-salary
    // member: dep1 (100+200 vs 200); dep2/dep3 are singletons
    assert(run(orgs,
      """SELECT ?dep (COUNT(?e) AS ?c)
        |WHERE { ?dep :employee ?e . ?e :salary ?s }
        |GROUP BY ?dep HAVING (SUM(?s) - MAX(?s) > 0)""".stripMargin) ==
      Set(b("dep" -> "o:dep1", "c" -> "2")))
  }

  test("aggregates:max-string-expr — MAX over a string expression is lexical") {
    assert(run(people,
      "SELECT (MAX(UCASE(?n)) AS ?mx) WHERE { ?x :name ?n }") ==
      Set(b("mx" -> "DAVE")))
  }

  // ---- r15.e batch: CONSTRUCT blank-node templates (§16.2.1) ---------

  test("construct:template-bnode — a template bnode mints a fresh node per solution") {
    // §16.2.1: _:c is instantiated FRESH for each solution, shared
    // across the template's triples within one solution. Three people
    // with names → three distinct bnodes, each linking its person to
    // its name through the same node.
    val out = Graft.query(people,
      """CONSTRUCT { ?x :contact _:c . _:c :label ?n }
        |WHERE { ?x rdf:type :Person . ?x :name ?n }""".stripMargin)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val contact = rows.filter(_._2 == ":contact")
    val label = rows.filter(_._2 == ":label")
    assert(contact.length == 3 && label.length == 3)
    // fresh per solution: three distinct bnode values, all bnode-shaped
    assert(contact.map(_._3).distinct.length == 3)
    assert(contact.forall(_._3.startsWith("_:")))
    // shared within a solution: contact's object = label's subject,
    // and the linkage carries the right name for each person
    val byNode = label.map(t => t._1 -> t._3).toMap
    val linked = contact.map(t => (t._1, byNode(t._3))).toSet
    assert(linked == Set(("p:alice", "Alice"), ("p:bob", "Bob"),
      ("p:carol", "Carol")))
  }

  test("construct:template-bnode-proplist — [ ... ] in a template is a fresh node") {
    // the bracketed property list desugars to a generated bnode var;
    // same §16.2.1 freshness applies
    val out = Graft.query(people,
      "CONSTRUCT { ?x :addr [ :city ?n ] } WHERE { ?x :name ?n . ?x :mbox ?m }")
    val rows = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val addr = rows.filter(_._2 == ":addr")
    val city = rows.filter(_._2 == ":city")
    assert(addr.length == 2 && city.length == 2)
    assert(addr.map(_._3).distinct.length == 2)
    val byNode = city.map(t => t._1 -> t._3).toMap
    assert(addr.map(t => (t._1, byNode(t._3))).toSet ==
      Set(("p:alice", "Alice"), ("p:bob", "Bob")))
  }

  test("bind:if-exists-unbound-shared — unbound OPTIONAL var is FREE in the body") {
    // §8.1.1: EXISTS substitutes only BOUND outer vars into the body;
    // carol's ?m is unbound, so { ?y :mbox ?m } evaluates with ?m
    // free — it matches the mbox triples unconstrained (true), rather
    // than keying the flag join on the unbound sentinel (false).
    // Regression for the BIND(IF(EXISTS)) path missing the lRisky set
    // the FILTER path already passes.
    assert(run(people,
      """SELECT ?x ?v WHERE { ?x rdf:type :Person .
        |OPTIONAL { ?x :mbox ?m }
        |BIND(IF(EXISTS { ?y :mbox ?m }, "linked", "free") AS ?v) }""".stripMargin) ==
      Set(b("x" -> "p:alice", "v" -> "linked"),
        b("x" -> "p:bob", "v" -> "linked"),
        b("x" -> "p:carol", "v" -> "linked")))
  }

  test("functions:datatype-concat-plain — mixed-tag CONCAT types as xsd:string") {
    // §17.4.3.12: CONCAT over a tagged and a plain argument yields a
    // simple literal; DATATYPE must see the "" plain-literal marker
    // as xsd:string, exactly like LANG() and the serializers do
    assert(run(people,
      """SELECT ?g ?dt WHERE { p:alice :greeting ?g . p:alice :name ?n .
        |BIND(CONCAT(?g, ?n) AS ?c)
        |BIND(DATATYPE(?c) AS ?dt) }""".stripMargin) ==
      Set(b("g" -> "Hello", "dt" -> "http://www.w3.org/2001/XMLSchema#string"),
        b("g" -> "Bonjour", "dt" -> "http://www.w3.org/2001/XMLSchema#string")))
  }

  test("functions:datatype-tagged-bind — tag-preserving BIND keeps rdf:langString") {
    // the minted ?c carries UCASE's propagated tag; DATATYPE reads the
    // lang companion on a term-kind-less minted literal
    assert(run(people,
      """SELECT ?g ?dt WHERE { p:alice :greeting ?g .
        |BIND(UCASE(?g) AS ?c)
        |BIND(DATATYPE(?c) AS ?dt) }""".stripMargin) ==
      Set(b("g" -> "Hello",
          "dt" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"),
        b("g" -> "Bonjour",
          "dt" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")))
  }

  test("functions:datatype-minted-null — DATATYPE of a null minted value is an error") {
    // a UNION pads the minted ?c to null on the branch that never
    // binds it — DATATYPE there is an error (unbound ?dt), NOT
    // xsd:string, even though ?c's lang companion column exists in
    // the frame (r17 ADVICE: the companion-typed when-chain must
    // check the value itself first)
    assert(run(people,
      """SELECT ?x ?dt WHERE {
        |  { p:alice :greeting ?g BIND(UCASE(?g) AS ?c) BIND("t" AS ?x) }
        |  UNION { p:bob :name ?n BIND("u" AS ?x) }
        |  BIND(DATATYPE(?c) AS ?dt) }""".stripMargin) ==
      Set(b("x" -> "t",
          "dt" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"),
        b("x" -> "u")))
  }

  test("functions:datatype-optional-fill — DATATYPE of an OPTIONAL-unmatched minted var is an error") {
    // dave has no :age: the OPTIONAL fills ?b with the lexical "N/A"
    // sentinel (not SQL null) and null companions — DATATYPE must
    // treat that as unbound (error), not type the sentinel as
    // xsd:string (r17 ADVICE: the guard reads unboundCol, not isNull)
    assert(run(people,
      """SELECT ?x ?dt WHERE { ?x :name ?n
        |  OPTIONAL { ?x :age ?a BIND(?a + 0 AS ?b) }
        |  BIND(DATATYPE(?b) AS ?dt) }""".stripMargin) ==
      Set(b("x" -> "p:alice", "dt" -> "http://www.w3.org/2001/XMLSchema#double"),
        b("x" -> "p:bob", "dt" -> "http://www.w3.org/2001/XMLSchema#double"),
        b("x" -> "p:carol", "dt" -> "http://www.w3.org/2001/XMLSchema#double"),
        b("x" -> "p:dave")))
  }

  test("functions:lang-optional-fill — LANG of an OPTIONAL-unmatched minted var is an error") {
    // same fill path through LANG: the tagged mint exists only where
    // the OPTIONAL matched; dave's filled row must yield an error
    // (unbound ?lg), not the plain-literal ""
    assert(run(people,
      """SELECT ?x ?lg WHERE { ?x :name ?n
        |  OPTIONAL { ?x :age ?a BIND(STRLANG(?a, "en") AS ?t) }
        |  BIND(LANG(?t) AS ?lg) }""".stripMargin) ==
      Set(b("x" -> "p:alice", "lg" -> "en"),
        b("x" -> "p:bob", "lg" -> "en"),
        b("x" -> "p:carol", "lg" -> "en"),
        b("x" -> "p:dave")))
  }

  test("syntax:reserved-var-prefix — user variables in the __ namespace are a parse error") {
    // ?__-prefixed names are the compiler's synthesized-helper
    // namespace (__bn*/__hv*/__ord*): SELECT * silently drops them
    // and a collision could mis-bind, so the parser hard-errors
    // instead of letting them vanish (r17 verdict)
    val e = intercept[IllegalArgumentException] {
      SparqlParser.parse("SELECT ?__x WHERE { ?__x :name ?n }")
    }
    assert(e.getMessage.contains("reserved"))
    val e2 = intercept[IllegalArgumentException] {
      SparqlParser.parse("SELECT ?s WHERE { ?s :name ?__ord0 }")
    }
    assert(e2.getMessage.contains("reserved"))
  }

  test("agg:ungrouped-projection — non-group variables in an aggregate projection are query errors") {
    // §18.2.4.1: an aggregate query's projection may use only group
    // keys and aggregate results. Before the guard the ungrouped
    // variable silently fell through to the bound-nowhere sentinel
    // path and projected as unbound — a wrong ANSWER, not an error
    val e = intercept[IllegalArgumentException] {
      SparqlParser.parse(
        "SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s :name ?o } GROUP BY ?o")
    }
    assert(e.getMessage.contains("18.2.4.1"))
    // the same rule through a SELECT expression over an ungrouped var
    val e2 = intercept[IllegalArgumentException] {
      SparqlParser.parse(
        "SELECT (STRLEN(?s) AS ?l) (COUNT(?o) AS ?c) " +
          "WHERE { ?s :name ?o } GROUP BY ?o")
    }
    assert(e2.getMessage.contains("18.2.4.1"))
    // GROUP BY with no aggregates is still an aggregate query
    val e3 = intercept[IllegalArgumentException] {
      SparqlParser.parse("SELECT ?s ?o WHERE { ?s :name ?o } GROUP BY ?s")
    }
    assert(e3.getMessage.contains("18.2.4.1"))
  }

  test("agg:star-with-groupby — SELECT * in an aggregate query is a query error") {
    // §18.2.4.1 defines an aggregate projection by enumeration; the
    // star form has no defined expansion once grouping collapses rows
    val e = intercept[IllegalArgumentException] {
      SparqlParser.parse("SELECT * WHERE { ?s :name ?o } GROUP BY ?s")
    }
    assert(e.getMessage.contains("18.2.4.1"))
    // positive control: group keys + aggregates + expressions over
    // them stay accepted, including the (expr AS ?v) group form
    assert(run(people,
      """SELECT ?k (COUNT(?n) AS ?c) WHERE { ?x :name ?n }
        |GROUP BY (STRLEN(?n) AS ?k)""".stripMargin).nonEmpty)
  }

  test("agg:having-ungrouped-var — HAVING over a non-group variable is a query error") {
    // HAVING evaluates over groups (§18.2.4.1): a plain variable
    // there must be a group key or an aggregate alias; previously the
    // engine surfaced this as a raw unresolved-column crash
    val e = intercept[IllegalArgumentException] {
      SparqlParser.parse(
        """SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s :name ?o }
          |GROUP BY ?s HAVING (?o > 3)""".stripMargin)
    }
    assert(e.getMessage.contains("18.2.4.1"))
    // positive controls: an aggregate alias AND a group key in
    // HAVING stay accepted
    assert(run(people,
      """SELECT ?x (COUNT(?n) AS ?c) WHERE { ?x :name ?n }
        |GROUP BY ?x HAVING (?c >= 1)""".stripMargin).nonEmpty)
    assert(run(people,
      """SELECT ?x (COUNT(?n) AS ?c) WHERE { ?x :name ?n }
        |GROUP BY ?x HAVING (?x != "nobody")""".stripMargin).nonEmpty)
    // a bare HAVING makes the query an aggregate query (§18.2.4 —
    // one implicit group), so a plain projected variable is the same
    // §18.2.4.1 error, not a silently-unbound answer
    val e2 = intercept[IllegalArgumentException] {
      SparqlParser.parse(
        "SELECT ?s WHERE { ?s :name ?o } HAVING (COUNT(?o) > 3)")
    }
    assert(e2.getMessage.contains("18.2.4.1"))
    // a non-aggregate SELECT-expression alias is out of scope in
    // HAVING (§18.2.4.4 evaluates SELECT expressions AFTER it) — a
    // deliberate error, not an unresolved-column crash
    val e3 = intercept[IllegalArgumentException] {
      SparqlParser.parse(
        """SELECT ?x (STRLEN(?x) AS ?l) (COUNT(?n) AS ?c)
          |WHERE { ?x :name ?n } GROUP BY ?x
          |HAVING (?l > 1)""".stripMargin)
    }
    assert(e3.getMessage.contains("18.2.4.1"))
  }

  test("construct:template-bnode-typed — minted nodes serialize as bnodes") {
    // constructTyped marks the minted object a resource, so the
    // NTriples serializer emits bnode syntax (no angle brackets)
    val (tmpl, where) = SparqlParser.parseConstruct(
      "CONSTRUCT { ?x :contact _:c } WHERE { ?x :mbox ?m }")
    val typed = Compiler.constructTyped(people, tmpl, where)
    val lines = graft.rdf.NTriples.format(typed).collect().map(_.getString(0))
    assert(lines.length == 2)
    assert(lines.forall(_.matches("<p:(alice|bob)> <:contact> _:c-[0-9a-f]{12}-\\d+ \\.")))
  }
}
