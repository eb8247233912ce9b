package graft.sparql

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import Ast._

class CompilerSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** tiny triple fixture: two people, one typed, one number */
  private lazy val triples: DataFrame = Seq(
    ("p:1", "rdf:type", ":Person", Option.empty[Double], true, Option.empty[String]),
    ("p:2", "rdf:type", ":Person", None, true, None),
    ("p:1", ":name", "ann", None, false, None),
    ("p:2", ":name", "bob", None, false, None),
    ("p:1", ":age", "30", Some(30.0), false, None),
    ("p:2", ":age", "40", Some(40.0), false, None),
    ("p:1", ":knows", "p:2", None, true, None))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  private def v(n: String) = Var(n)
  private def tp(s: Term, p: String, o: Term) = TriplePattern(s, Iri(p), o)

  test("stats-driven BGP ordering: rare predicate leads the join chain") {
    // the canonical store is registered with TripleStats; :inRegion
    // has 25 triples while rdf:type covers every subject — with the
    // hot pattern listed FIRST, the static bound-term heuristic
    // (equal weights, stable order) would keep it there; real
    // per-predicate counts must flip the order
    val store = graft.rdf.TripleStore.triples(spark, SharedSpark.sfDir)
    val hot = tp(v("x"), "rdf:type", v("t"))
    val rare = tp(v("x"), ":inRegion", v("r"))
    assert(Compiler.orderPatterns(store, Seq(hot, rare)) == Seq(rare, hot))
    // an unregistered frame keeps the static heuristic: equal
    // weights, syntactic order preserved
    assert(Compiler.orderPatterns(triples, Seq(hot, rare)) == Seq(hot, rare))
  }

  test("BGP star join binds shared subject var") {
    val q = SelectQuery(
      where = Bgp(Seq(tp(v("x"), ":name", v("n")), tp(v("x"), ":age", v("a")))),
      projection = Seq("x", "n", "a"))
    val rows = Compiler.run(triples, q).collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSet == Set(("p:1", "ann"), ("p:2", "bob")))
  }

  test("numeric FILTER uses the typed companion") {
    val q = SelectQuery(
      where = Filter(Seq(Cmp(Gt, v("a"), Lit("35", Some(35.0)))),
        Bgp(Seq(tp(v("x"), ":age", v("a"))))),
      projection = Seq("x"))
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSeq == Seq("p:2"))
  }

  test("DISTINCT applies before ORDER BY and keeps sort valid") {
    val q = SelectQuery(
      where = Bgp(Seq(tp(v("x"), ":age", v("a")))),
      projection = Seq("a"), distinct = true,
      orderBy = Seq(("a", false)))
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSeq ==
      Seq("40", "30"))
  }

  test("sequence paths chain hops; inverse steps flip direction") {
    // forward 2-step: ?x :knows/:name ?n
    val fwd = SelectQuery(
      where = PathSeq(v("x"),
        Seq(PathStep(":knows", inverse = false), PathStep(":name", inverse = false)),
        v("n")),
      projection = Seq("x", "n"))
    assert(Compiler.run(triples, fwd).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("p:1", "bob")))
    // single inverse step: ?y ^:knows ?x  ==  ?x :knows ?y
    val inv = SelectQuery(
      where = PathSeq(v("y"), Seq(PathStep(":knows", inverse = true)), v("x")),
      projection = Seq("y", "x"))
    assert(Compiler.run(triples, inv).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("p:2", "p:1")))
    // intermediates never leak into SELECT *
    val star = SelectQuery(where = PathSeq(v("x"),
      Seq(PathStep(":knows", inverse = false), PathStep(":name", inverse = false)),
      v("n")))
    assert(Compiler.run(triples, star).columns.toSet == Set("x", "n"))
  }

  test("GROUP_CONCAT sorts values and honors SEPARATOR") {
    val q = SparqlParser.parse(
      """SELECT (GROUP_CONCAT(?n; SEPARATOR=",") AS ?all) WHERE { ?x :name ?n . }""")
    assert(Compiler.run(triples, q).head().getString(0) == "ann,bob")
    intercept[IllegalArgumentException](SparqlParser.parse(
      """SELECT (SUM(?n; SEPARATOR=",") AS ?x) WHERE { ?s :age ?n . }"""))
  }

  test("LANG() filters tagged literals; plain literals are ''; IRIs error") {
    val t = Seq(
      ("x:1", ":label", "chat", Option.empty[Double], false, Some("fr")),
      ("x:2", ":label", "cat", None, false, Some("en")),
      ("x:3", ":label", "plain", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    def q(text: String) =
      Compiler.run(t, SparqlParser.parse(text)).collect().map(_.getString(0)).toSet
    assert(q("""SELECT ?s WHERE { ?s :label ?l . FILTER(LANG(?l) = "fr") }""")
      == Set("x:1"))
    assert(q("""SELECT ?s WHERE { ?s :label ?l . FILTER(LANG(?l) != "fr") }""")
      == Set("x:2", "x:3"))
    assert(q("""SELECT ?s WHERE { ?s :label ?l . FILTER(LANG(?l) = "") }""")
      == Set("x:3"))
    // lang() of a subject-position (IRI) binding is a type error -> false
    assert(q("""SELECT ?s WHERE { ?s :label ?l . FILTER(LANG(?s) = "fr") }""")
      == Set.empty)
  }

  test("ASK short-circuits to a boolean; CONSTRUCT instantiates templates") {
    assert(Compiler.ask(triples, SparqlParser.parseAsk(
      "ASK { ?x :age ?a . FILTER(?a > 35) }")).head().getBoolean(0))
    assert(!Compiler.ask(triples, SparqlParser.parseAsk(
      "ASK { ?x :age ?a . FILTER(?a > 99) }")).head().getBoolean(0))
    val (tmpl, where) = SparqlParser.parseConstruct(
      "CONSTRUCT { ?x :called ?n } WHERE { ?x :name ?n . }")
    val got = Compiler.construct(triples, tmpl, where).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("p:1", ":called", "ann"), ("p:2", ":called", "bob")))
  }

  test("VALUES joins the group against the inline constants") {
    val q = SparqlParser.parse(
      """SELECT ?x ?n WHERE { ?x :name ?n . VALUES ?n { "ann" "zed" } }""")
    assert(Compiler.run(triples, q).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("p:1", "ann")))
    // numeric VALUES carries the numeric companion into filters
    val qn = SparqlParser.parse(
      "SELECT ?x WHERE { ?x :age ?a . VALUES ?a { 30 99 } FILTER(?a <= 35) }")
    assert(Compiler.run(triples, qn).collect().map(_.getString(0)).toSeq == Seq("p:1"))
    // multi-var form constrains variable COMBINATIONS, not columns
    val qm = SparqlParser.parse(
      """SELECT ?x WHERE { ?x :name ?n ; :age ?a .
        |  VALUES (?n ?a) { ("ann" 30) ("bob" 99) } }""".stripMargin)
    assert(Compiler.run(triples, qm).collect().map(_.getString(0)).toSeq == Seq("p:1"))
    intercept[IllegalArgumentException](SparqlParser.parse(
      """SELECT ?x WHERE { VALUES (?a ?b) { ("one") } }"""))
  }

  test("NOT EXISTS with variable-disjoint pattern keeps/drops whole side") {
    // disconnected non-empty pattern => all rows dropped
    val q = SelectQuery(
      where = Filter(Seq(NotExists(Bgp(Seq(tp(v("y"), "rdf:type", Iri(":Person")))))),
        Bgp(Seq(tp(v("x"), ":name", v("n"))))),
      projection = Seq("x"))
    assert(Compiler.run(triples, q).count() == 0)
    // disconnected empty pattern => all rows kept
    val q2 = q.copy(where = Filter(
      Seq(NotExists(Bgp(Seq(tp(v("y"), "rdf:type", Iri(":Nothing")))))),
      Bgp(Seq(tp(v("x"), ":name", v("n"))))))
    assert(Compiler.run(triples, q2).count() == 2)
  }

  test("OPTIONAL fills unmatched vars with N/A") {
    val q = SelectQuery(
      where = LeftJoin(
        Bgp(Seq(tp(v("x"), "rdf:type", Iri(":Person")))),
        Bgp(Seq(tp(v("x"), ":knows", v("k"))))),
      projection = Seq("x", "k"))
    val rows = Compiler.run(triples, q).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("p:1", "p:2"), ("p:2", "N/A")))
  }

  test("same variable twice in a pattern constrains within the row") {
    val selfRef = Seq(("p:9", ":knows", "p:9", Option.empty[Double], true, Option.empty[String]))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val q = SelectQuery(
      where = Bgp(Seq(tp(v("x"), ":knows", v("x")))),
      projection = Seq("x"))
    assert(Compiler.run(triples.unionByName(selfRef), q)
      .collect().map(_.getString(0)).toSeq == Seq("p:9"))
  }

  test("empty group patterns evaluate as the unit table") {
    // OPTIONAL hanging off an empty group: right side drives the rows
    val q = SelectQuery(
      where = LeftJoin(Bgp(Seq.empty), Bgp(Seq(tp(v("x"), ":name", v("n"))))),
      projection = Seq("x", "n"))
    assert(Compiler.run(triples, q).count() == 2)
  }

  test("ordering filter on a never-numeric binding is a type error (false)") {
    // ?x is subject-bound (IRI): FILTER(?x > 5) must drop all rows,
    // not pass IRIs by lexicographic comparison
    val q = SelectQuery(
      where = Filter(Seq(Cmp(Gt, v("x"), Lit("5", Some(5.0)))),
        Bgp(Seq(tp(v("x"), ":name", v("n"))))),
      projection = Seq("x"))
    assert(Compiler.run(triples, q).count() == 0)
  }

  test("same-var object match requires an IRI, not a lexical twin") {
    val twin = Seq(
      ("p:7", ":alias", "p:7", Option.empty[Double], false, Option.empty[String]),
      ("p:8", ":alias", "p:8", Option.empty[Double], true, Option.empty[String]))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val q = SelectQuery(
      where = Bgp(Seq(tp(v("x"), ":alias", v("x")))),
      projection = Seq("x"))
    assert(Compiler.run(twin, q).collect().map(_.getString(0)).toSeq == Seq("p:8"))
  }

  test("SUM/AVG/MIN aggregate over the numeric companion") {
    val q = SelectQuery(
      where = Bgp(Seq(tp(v("x"), ":age", v("a")))),
      projection = Seq("t", "av", "mn"),
      aggregates = Seq(Agg(Sum, Some(v("a")), "t"),
        Agg(Avg, Some(v("a")), "av"), Agg(Min, Some(v("a")), "mn")))
    val r = Compiler.run(triples, q).head()
    // MIN/MAX output the element's LEXICAL form (r12 pair-fold)
    assert(r.getDouble(0) == 70.0 && r.getDouble(1) == 35.0 && r.getString(2) == "30")
  }

  test("SUM over a binding with no numeric companion fails fast") {
    val q = SelectQuery(
      where = Bgp(Seq(tp(v("x"), ":name", v("n")))),
      projection = Seq("t"),
      aggregates = Seq(Agg(Sum, Some(v("x")), "t")))
    val e = intercept[IllegalArgumentException](Compiler.run(triples, q))
    assert(e.getMessage.contains("no numeric binding"))
  }

  test("HAVING filters on typed aggregate outputs; ORDER BY sorts aliases") {
    val q = SparqlParser.parse(
      """SELECT ?x (COUNT(?p) AS ?cnt) WHERE { ?x ?p ?o }
        |GROUP BY ?x HAVING(?cnt >= 3) ORDER BY DESC(?cnt) ?x""".stripMargin)
    assert(q.having.nonEmpty)
    val rows = Compiler.run(triples, q).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // p:1 has 4 triples, p:2 has 3; :Person/:30 etc. fall below 3
    assert(rows.toSeq == Seq(("p:1", 4L), ("p:2", 3L)))
  }

  test("MINUS drops compatible solutions; disjoint domains drop nothing") {
    // everyone with a name, minus those who know p:2 → only p:2 left
    val q = SelectQuery(
      where = Minus(
        Bgp(Seq(tp(v("x"), ":name", v("n")))),
        Bgp(Seq(tp(v("x"), ":knows", Iri("p:2"))))),
      projection = Seq("x"))
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSeq == Seq("p:2"))
    // right side binds only unrelated vars → MINUS is a no-op (§8.3)
    val disjoint = SelectQuery(
      where = Minus(
        Bgp(Seq(tp(v("x"), ":name", v("n")))),
        Bgp(Seq(tp(v("y"), ":knows", Iri("p:2"))))),
      projection = Seq("x"))
    assert(Compiler.run(triples, disjoint).collect().length == 2)
  }

  test("BIND: arithmetic is typed-numeric, string builtins are lexical") {
    val q = SelectQuery(
      where = Filter(Seq(Cmp(Gt, v("a2"), Lit("65", Some(65.0)))),
        Bind(Bgp(Seq(tp(v("x"), ":age", v("a")))),
          Arith(MulOp, VVar("a"), VNum(2.0)), "a2")),
      projection = Seq("x", "a2"))
    val rows = Compiler.run(triples, q).collect()
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSet == Set(("p:2", 80.0)))

    val s = SelectQuery(
      where = Bind(Bgp(Seq(tp(v("x"), ":name", v("n")))),
        FnCall("CONCAT", Seq(FnCall("UCASE", Seq(VVar("n"))), VStr("!"))), "u"),
      projection = Seq("u"))
    assert(Compiler.run(triples, s).collect().map(_.getString(0)).toSet ==
      Set("ANN!", "BOB!"))
  }

  test("BIND of a plain variable copies its numeric companion") {
    val q = SelectQuery(
      where = Filter(Seq(Cmp(Ge, v("b"), Lit("40", Some(40.0)))),
        Bind(Bgp(Seq(tp(v("x"), ":age", v("a")))), VVar("a"), "b")),
      projection = Seq("x"))
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSeq == Seq("p:2"))
  }

  test("expression filters compare typed computed sides") {
    // STRLEN(?n) = 3 matches both; ?a * 2 > 70 only p:2
    val q = SparqlParser.parse(
      """SELECT ?x WHERE { ?x :name ?n . ?x :age ?a .
        |  FILTER(STRLEN(?n) = 3) FILTER(?a * 2 > 70) }""".stripMargin)
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSeq == Seq("p:2"))
    // string-typed expression vs string literal
    val s = SparqlParser.parse(
      """SELECT ?x WHERE { ?x :name ?n . FILTER(UCASE(?n) = "ANN") }""")
    assert(Compiler.run(triples, s).collect().map(_.getString(0)).toSeq == Seq("p:1"))
    // type mismatch (string expr vs number) is an error → false
    val m = SparqlParser.parse(
      """SELECT ?x WHERE { ?x :name ?n . FILTER(UCASE(?n) = 5) }""")
    assert(Compiler.run(triples, m).isEmpty)
  }

  test("string-builtin filters: REGEX, STRSTARTS, STRENDS, CONTAINS") {
    def names(e: Expr): Set[String] = {
      val q = SelectQuery(
        where = Filter(Seq(e), Bgp(Seq(tp(v("x"), ":name", v("n"))))),
        projection = Seq("n"))
      Compiler.run(triples, q).collect().map(_.getString(0)).toSet
    }
    assert(names(StrFilter(RegexMatch, v("n"), "^a.n$")) == Set("ann"))
    assert(names(StrFilter(StrStarts, v("n"), "bo")) == Set("bob"))
    assert(names(StrFilter(StrEnds, v("n"), "n")) == Set("ann"))
    assert(names(StrFilter(StrContains, v("n"), "o")) == Set("bob"))
  }

  test("sequence closure (f/g)+ composes then iterates; * and ? add identity") {
    // chain a -f→ b -g→ c -f→ d -g→ e: composed edge (f/g) is
    // {a→c, c→e}; its closure adds a→e
    val chain = Seq(
      ("a", ":f", "b"), ("b", ":g", "c"), ("c", ":f", "d"), ("d", ":g", "e"))
      .map { case (s, p, o) => (s, p, o, Option.empty[Double], true,
        Option.empty[String]) }
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    def pairs(mod: Char) = Compiler.run(chain, SelectQuery(
      where = PathSeqMod(v("x"),
        Seq(PathStep(":f", false), PathStep(":g", false)), mod, v("y")),
      projection = Seq("x", "y")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs('+') == Set(("a", "c"), ("c", "e"), ("a", "e")))
    val ids = Set("a", "b", "c", "d", "e").map(n => (n, n))
    assert(pairs('*') == Set(("a", "c"), ("c", "e"), ("a", "e")) ++ ids)
    assert(pairs('?') == Set(("a", "c"), ("c", "e")) ++ ids)
    // bound-endpoint '+' seeds a frontier BFS instead of the closure
    val bound = Compiler.run(chain, SelectQuery(
      where = PathSeqMod(Iri("a"),
        Seq(PathStep(":f", false), PathStep(":g", false)), '+', v("y")),
      projection = Seq("y"))).collect().map(_.getString(0)).toSet
    assert(bound == Set("c", "e"))
    // bounded range over the same composed edges: {1,2} adds the
    // two-application hop, {2,2} is only it
    def range(mn: Int, mx: Int) = Compiler.run(chain, SelectQuery(
      where = PathSeqRange(v("x"),
        Seq(PathStep(":f", false), PathStep(":g", false)), mn, mx, v("y")),
      projection = Seq("x", "y")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(range(1, 2) == Set(("a", "c"), ("c", "e"), ("a", "e")))
    assert(range(2, 2) == Set(("a", "e")))
  }

  test("path star includes the zero-length identity; zero-or-one is one hop max") {
    // bound subject: itself plus everything reachable
    val star = SelectQuery(
      where = PathStar(Iri("p:1"), Seq(":knows"), v("y")),
      projection = Seq("y"))
    assert(Compiler.run(triples, star).collect().map(_.getString(0)).toSet ==
      Set("p:1", "p:2"))
    // var-var: every node relates to itself, plus the one :knows hop
    val vv = SelectQuery(
      where = PathStar(v("x"), Seq(":knows"), v("y")),
      projection = Seq("x", "y"))
    val pairs = Compiler.run(triples, vv).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("p:1", "p:2")))
    // §9.3: the zero-length pairs cover EVERY term of the graph —
    // literal objects included (r15.d: the resources-only universe
    // was a conformance miss, deliberately updated)
    assert(pairs.filter(p => p._1 == p._2).map(_._1) ==
      Set("p:1", "p:2", ":Person", "30", "40", "ann", "bob"))
    val zo = SelectQuery(
      where = PathZeroOne(Iri("p:2"), Seq(":knows"), v("y")),
      projection = Seq("y"))
    assert(Compiler.run(triples, zo).collect().map(_.getString(0)).toSet ==
      Set("p:2"))
  }

  test("IN uses the numeric companion; NOT IN negates; unbound is false") {
    def who(e: Expr): Set[String] = {
      val q = SelectQuery(
        where = Filter(Seq(e), Bgp(Seq(tp(v("x"), ":age", v("a"))))),
        projection = Seq("x"))
      Compiler.run(triples, q).collect().map(_.getString(0)).toSet
    }
    assert(who(In(v("a"), Seq(Lit("30", Some(30.0)), Lit("99", Some(99.0))),
      neg = false)) == Set("p:1"))
    assert(who(In(v("a"), Seq(Lit("30", Some(30.0))), neg = true)) == Set("p:2"))
    // out-of-scope variable: type error → false for IN and NOT IN
    assert(who(In(v("zz"), Seq(Lit("1", Some(1.0))), neg = true)).isEmpty)
  }

  test("BOUND sees through the OPTIONAL N/A sentinel") {
    // p:1 knows someone, p:2 does not
    val q = SelectQuery(
      where = Filter(Seq(Not(Bound(v("y")))),
        LeftJoin(
          Bgp(Seq(tp(v("x"), "rdf:type", Iri(":Person")))),
          Bgp(Seq(tp(v("x"), ":knows", v("y")))))),
      projection = Seq("x"))
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSet ==
      Set("p:2"))
  }

  test("IF is typed by its branches; COALESCE falls back on unbound") {
    val q = SelectQuery(
      where = Bind(
        Bind(
          Bgp(Seq(tp(v("x"), ":age", v("a")))),
          VIf(Cmp(Ge, v("a"), Lit("35", Some(35.0))), VStr("old"), VStr("young")),
          "t"),
        FnCall("COALESCE", Seq(VVar("zz"), VStr("dflt"))), "u"),
      projection = Seq("x", "t", "u"))
    val rows = Compiler.run(triples, q).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("p:1", "young", "dflt"), ("p:2", "old", "dflt")))
    // numeric IF: both branches numeric ⇒ typed double binding
    val nq = SelectQuery(
      where = Bind(Bgp(Seq(tp(v("x"), ":age", v("a")))),
        VIf(Cmp(Gt, v("a"), Lit("35", Some(35.0))), VNum(1), VNum(0)), "flag"),
      projection = Seq("x", "flag"))
    val nrows = Compiler.run(triples, nq).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(nrows == Set(("p:1", 0.0), ("p:2", 1.0)))
  }

  test("substring builtins: SUBSTR 1-based, STRBEFORE/STRAFTER empty on no match") {
    val q = SelectQuery(
      where = Bind(Bind(Bind(
        Bgp(Seq(tp(v("x"), ":name", v("n")))),
        FnCall("SUBSTR", Seq(VVar("n"), VNum(2), VNum(2))), "sub"),
        FnCall("STRBEFORE", Seq(VVar("n"), VStr("n"))), "bef"),
        FnCall("STRAFTER", Seq(VVar("n"), VStr("o"))), "aft"),
      projection = Seq("n", "sub", "bef", "aft"))
    val rows = Compiler.run(triples, q).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    // ann: substr(2,2)=nn, before first 'n'="a", no 'o' → ""
    // bob: substr(2,2)=ob, no 'n' → "", after first 'o'="b"
    assert(rows == Set(("ann", "nn", "a", ""), ("bob", "ob", "", "b")))
  }

  test("path alternation hops over exactly the listed predicates") {
    val q = SelectQuery(
      where = PathAlt(Iri("p:1"), Seq(":name", ":knows"), v("o")),
      projection = Seq("o"))
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSet ==
      Set("ann", "p:2"))
    // var-var form: every edge under either predicate, nothing else
    val q2 = SelectQuery(
      where = PathAlt(v("a"), Seq(":knows", ":age"), v("b")),
      projection = Seq("a", "b"))
    assert(Compiler.run(triples, q2).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("p:1", "p:2"), ("p:1", "30"), ("p:2", "40")))
  }

  test("negated property set hops over predicates outside the list") {
    val q = SelectQuery(
      where = NegPath(Iri("p:1"), Seq(":knows", "rdf:type"), v("o")),
      projection = Seq("o"))
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSet ==
      Set("ann", "30"))
  }

  test("subquery aggregates join the enclosing group with typed outputs") {
    val inner = SelectQuery(
      where = Bgp(Seq(tp(v("x"), ":age", v("a")))),
      projection = Seq("x", "mx"),
      aggregates = Seq(Agg(Max, Some(v("a")), "mx")),
      groupBy = Seq("x"))
    val q = SelectQuery(
      where = Filter(Seq(Cmp(Gt, v("mx"), Lit("35", Some(35.0)))),
        Join(SubSelect(inner), Bgp(Seq(tp(v("x"), ":name", v("n")))))),
      projection = Seq("n"))
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSeq ==
      Seq("bob"))
  }

  test("aggregates evaluate expression arguments per input row") {
    val q = SelectQuery(
      where = Bgp(Seq(tp(v("x"), ":age", v("a")))),
      projection = Seq("t", "s2", "mx"),
      aggregates = Seq(
        Agg(Sum, None, "s2", expr = Some(Arith(MulOp, VVar("a"), VVar("a")))),
        Agg(Max, None, "mx", expr = Some(Arith(SubOp, VVar("a"), VNum(5))))),
      groupBy = Seq("t"))
    val withType = q.copy(where = Bgp(Seq(
      tp(v("x"), ":age", v("a")), tp(v("x"), "rdf:type", v("t")))))
    val rows = Compiler.run(triples, withType).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // ages 30, 40 → sum of squares 2500, max(a-5) = 35
    assert(rows.toSeq == Seq((":Person", 2500.0, 35.0)))
  }

  test("term-type tests distinguish IRI, literal, and blank bindings") {
    val withBnode = triples.unionByName(Seq(
      ("p:1", ":knows", "_:b0", Option.empty[Double], true, Option.empty[String]))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang"))
    def who(e: Expr): Set[String] = {
      val q = SelectQuery(
        where = Filter(Seq(e), Bgp(Seq(tp(v("x"), ":knows", v("y"))))),
        projection = Seq("y"))
      Compiler.run(withBnode, q).collect().map(_.getString(0)).toSet
    }
    assert(who(IsIri(v("y"))) == Set("p:2"))
    assert(who(IsBlank(v("y"))) == Set("_:b0"))
    assert(who(IsLiteral(v("y"))).isEmpty)
    // subject position: resource by construction
    val q2 = SelectQuery(
      where = Filter(Seq(IsIri(v("x"))), Bgp(Seq(tp(v("x"), ":name", v("n"))))),
      projection = Seq("x"))
    assert(Compiler.run(triples, q2).collect().length == 2)
    // literal object: isLiteral true, isIRI false
    val q3 = SelectQuery(
      where = Filter(Seq(IsLiteral(v("n"))), Bgp(Seq(tp(v("x"), ":name", v("n"))))),
      projection = Seq("n"))
    assert(Compiler.run(triples, q3).collect().map(_.getString(0)).toSet ==
      Set("ann", "bob"))
  }

  test("numeric builtins: ROUND breaks ties toward +∞, CEIL/FLOOR/ABS") {
    val nums = Seq(
      ("n:1", ":v", "-2.5", Some(-2.5), false, Option.empty[String]),
      ("n:2", ":v", "2.5", Some(2.5), false, None),
      ("n:3", ":v", "-1.2", Some(-1.2), false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val q = SparqlParser.parse(
      """SELECT ?x ?rd ?ce ?fl ?ab WHERE {
        |  ?x :v ?n .
        |  BIND(ROUND(?n) AS ?rd) BIND(CEIL(?n) AS ?ce)
        |  BIND(FLOOR(?n) AS ?fl) BIND(ABS(?n) AS ?ab)
        |}""".stripMargin)
    val rows = Compiler.run(nums, q).collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSet
    // xsd:round(-2.5) = -2 (toward +∞), not HALF_UP's -3
    assert(rows == Set(
      ("n:1", -2.0, -2.0, -3.0, 2.5),
      ("n:2", 3.0, 3.0, 2.0, 2.5),
      ("n:3", -1.0, -1.0, -2.0, 1.2)))
  }

  test("path range {n,m} unions the bounded hop chains") {
    val chain = Seq(
      ("a", ":next", "b", Option.empty[Double], true, Option.empty[String]),
      ("b", ":next", "c", None, true, None),
      ("c", ":next", "d", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    def reach(text: String): Set[String] =
      Compiler.run(chain, SparqlParser.parse(text))
        .collect().map(_.getString(0)).toSet
    assert(reach("SELECT ?y WHERE { <a> :next{2} ?y }") == Set("c"))
    assert(reach("SELECT ?y WHERE { <a> (:next){1,3} ?y }") == Set("b", "c", "d"))
    assert(reach("SELECT ?y WHERE { <a> :next{0,1} ?y }") == Set("a", "b"))
  }

  test("ORDER BY expression sorts without projecting the hidden column") {
    val q = SparqlParser.parse(
      """SELECT ?x WHERE { ?x :age ?a . }
        |ORDER BY DESC(?a * 2 - 1) LIMIT 1""".stripMargin)
    val out = Compiler.run(triples, q)
    assert(out.columns.toSeq == Seq("x"))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("p:2"))
    // §18.2.5.3: under DISTINCT a sort expression may only reference
    // PROJECTED variables — ?a is unprojected, loud error (expression
    // keys over projected vars now ride DISTINCT via the staged
    // subquery desugar; see distinct:order-by-expr in conformance)
    intercept[IllegalArgumentException] {
      SparqlParser.parse(
        "SELECT DISTINCT ?x WHERE { ?x :age ?a } ORDER BY ASC(?a + 1)")
    }
  }

  test("UPDATE: insert/delete data and pattern-scoped delete where") {
    val store = Seq(
      ("p:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]),
      ("p:1", ":knows", "p:2", None, true, None),
      // literal spelled like an IRI — DELETE WHERE on the edge
      // pattern must not take it (term identity, not lexical)
      ("p:3", ":note", "p:2", None, false, None),
      ("p:1", ":age", "30", Some(30.0), false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    def upd(df: org.apache.spark.sql.DataFrame, text: String) =
      graft.Graft.update(df, text)
    val grown = upd(store, """INSERT DATA { <p:9> :age 42 . }""")
    assert(grown.count() == 5)
    assert(grown.filter(org.apache.spark.sql.functions.col("s") === "p:9").select("o_num")
      .collect().head.getDouble(0) == 42.0)
    // idempotent re-insert
    assert(upd(grown, "INSERT DATA { <p:9> :age 42 . }").count() == 5)
    // pattern delete: only the IRI-object edge goes; the lookalike
    // literal stays
    val pruned = upd(store, "DELETE WHERE { ?x :knows ?y . }")
    assert(pruned.count() == 3)
    assert(pruned.filter(org.apache.spark.sql.functions.col("p") === ":note").count() == 1)
    // ground delete of a typed literal
    assert(upd(store, "DELETE DATA { <p:1> :age 30 . }").count() == 3)
    // variables in a DATA block are rejected
    intercept[IllegalArgumentException] {
      upd(store, "INSERT DATA { ?x :name \"who\" . }")
    }
  }

  test("UPDATE modify renames a property in one delete-insert pass") {
    val moved = graft.Graft.update(triples,
      """DELETE { ?x :age ?a } INSERT { ?x :years ?a }
        |WHERE { ?x :age ?a . FILTER(?a > 35) }""".stripMargin)
    val byP = moved.groupBy("p").count().as[(String, Long)].collect().toMap
    assert(byP(":years") == 1 && byP(":age") == 1)
    // the moved triple keeps its numeric companion
    assert(moved.filter(org.apache.spark.sql.functions.col("p") === ":years")
      .select("o_num").collect().head.getDouble(0) == 40.0)
    // INSERT-only form
    val tagged = graft.Graft.update(triples,
      "INSERT { ?x :isAdult \"yes\" } WHERE { ?x :age ?a . FILTER(?a >= 30) }")
    assert(tagged.filter(org.apache.spark.sql.functions.col("p") === ":isAdult")
      .count() == 2)
  }

  test("UPDATE graph management: textual CLEAR/DROP/CREATE/COPY/MOVE/ADD") {
    import org.apache.spark.sql.functions.col
    val quads = Seq(
      ("g:a", "x:1", ":v", "1", Some(1.0), false, Option.empty[String]),
      ("g:a", "x:2", ":v", "2", Some(2.0), false, None),
      ("g:b", "x:3", ":v", "3", Some(3.0), false, None),
      // duplicate of a g:a quad under g:b — ADD must set-union it away
      ("g:b", "x:1", ":v", "1", Some(1.0), false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    def upd(df: org.apache.spark.sql.DataFrame, text: String) =
      graft.Graft.updateQuads(df, text)
    def graphCounts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").count().as[(String, Long)].collect().toMap
    // COPY replaces the target with the source slice
    assert(graphCounts(upd(quads, "COPY GRAPH g:a TO g:b")) ==
      Map("g:a" -> 2L, "g:b" -> 2L))
    // ADD unions with set semantics: the shared x:1 quad dedups
    assert(graphCounts(upd(quads, "ADD g:a TO g:b")) ==
      Map("g:a" -> 2L, "g:b" -> 3L))
    // MOVE = COPY + drop source
    assert(graphCounts(upd(quads, "MOVE SILENT g:a TO g:b")) ==
      Map("g:b" -> 2L))
    // CLEAR and DROP both drop the slice (no empty-graph existence)
    assert(graphCounts(upd(quads, "CLEAR GRAPH g:a")) == Map("g:b" -> 2L))
    assert(graphCounts(upd(quads, "DROP SILENT GRAPH g:a")) == Map("g:b" -> 2L))
    // CREATE is a checked no-op derivation
    assert(upd(quads, "CREATE GRAPH g:new").count() == quads.count())
    // prefixes expand in graph names
    val expanded = upd(quads, "PREFIX ex: <g:> CLEAR GRAPH ex:a")
    assert(graphCounts(expanded) == Map("g:b" -> 2L))
    // a triple-store form on a quad relation is a loud error…
    intercept[IllegalArgumentException] {
      upd(quads, "INSERT DATA { <x:9> :v 9 . }")
    }
    // …and a graph form on a triple store likewise
    intercept[IllegalArgumentException] {
      graft.Graft.update(triples, "CLEAR GRAPH g:a")
    }
    // DEFAULT is not a managed slot in the union-default-graph model
    intercept[IllegalArgumentException] {
      upd(quads, "COPY DEFAULT TO g:b")
    }
  }

  test("FILTER inside OPTIONAL scopes to the optional group") {
    // :age only for p:1/p:2; the filter inside OPTIONAL must not drop
    // the outer row, only the optional binding
    val q = SparqlParser.parse(
      """SELECT ?x ?a WHERE {
        |  ?x :name ?n .
        |  OPTIONAL { ?x :age ?a . FILTER(?a > 35) }
        |}""".stripMargin)
    val rows = Compiler.run(triples, q).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("p:1", "N/A"), ("p:2", "40")))
  }

  test("sameTerm distinguishes language tags and term kinds; isNumeric types") {
    val t = Seq(
      ("x:1", ":a", "hi", Option.empty[Double], false, Option.empty[String]),
      ("x:1", ":b", "hi", None, false, Some("en")),
      ("x:1", ":c", "hi", None, false, None),
      ("x:1", ":d", "5", Some(5.0), false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    def pairs(f: String): Set[(String, String)] = {
      val q = SparqlParser.parse(
        s"""SELECT ?p1 ?p2 WHERE {
           |  ?x ?p1 ?a . ?x ?p2 ?b . FILTER($f) FILTER(?p1 < ?p2)
           |}""".stripMargin)
      Compiler.run(t, q).collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    // same lexical "hi": plain=:a/:c identical; @en=:b differs from both
    assert(pairs("sameTerm(?a, ?b)") == Set((":a", ":c")))
    // value equality `=` compares lexically — all three "hi" pair up
    assert(pairs("?a = ?b && !sameTerm(?a, ?b)").contains((":a", ":b")))
    // isNumeric only passes the typed binding
    val q2 = SparqlParser.parse(
      "SELECT ?p WHERE { ?x ?p ?v . FILTER(isNumeric(?v)) }")
    assert(Compiler.run(t, q2).collect().map(_.getString(0)).toSeq == Seq(":d"))
  }

  test("GRAPH scopes to one graph; GRAPH ?g aligns patterns within it") {
    val quads = Seq(
      ("g:a", "p:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]),
      ("g:a", "p:1", ":age", "30", Some(30.0), false, None),
      ("g:b", "p:1", ":name", "ann2", None, false, None),
      ("g:b", "p:2", ":name", "bob", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    def q(text: String) = Compiler.runQuads(quads, SparqlParser.parse(text))
    // constant graph prunes to its slice
    assert(q("SELECT ?n WHERE { GRAPH <g:b> { ?x :name ?n } }")
      .collect().map(_.getString(0)).toSet == Set("ann2", "bob"))
    // variable graph binds per solution
    assert(q("SELECT ?g WHERE { GRAPH ?g { ?x :age ?a } }")
      .collect().map(_.getString(0)).toSeq == Seq("g:a"))
    // both patterns must match in the SAME graph: p:1's name+age only
    // co-occur in g:a — the g:b name must not pair with the g:a age
    assert(q("SELECT ?g ?n WHERE { GRAPH ?g { ?x :name ?n . ?x :age ?a } }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("g:a", "ann")))
    // patterns outside GRAPH match the union default graph
    assert(q("SELECT ?n WHERE { ?x :name ?n . ?x :age ?a }")
      .collect().map(_.getString(0)).toSet == Set("ann", "ann2"))
    // GRAPH without a quad dataset is rejected, not silently empty
    intercept[IllegalArgumentException] {
      Compiler.run(triples, SparqlParser.parse(
        "SELECT ?n WHERE { GRAPH <g:a> { ?x :name ?n } }")).collect()
    }
  }

  test("GRAPH with a general body: OPTIONAL/FILTER compose inside a constant graph") {
    val quads = Seq(
      ("g:a", "p:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]),
      ("g:a", "p:1", ":age", "30", Some(30.0), false, None),
      ("g:a", "p:2", ":name", "bob", None, false, None),
      ("g:a", "p:3", ":name", "cyn", None, false, None),
      ("g:a", "p:3", ":age", "9", Some(9.0), false, None),
      // g:b carries a p:2 age that must NOT leak into the g:a group
      ("g:b", "p:2", ":age", "99", Some(99.0), false, None),
      ("g:b", "p:9", ":name", "zed", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    def q(text: String) = Compiler.runQuads(quads, SparqlParser.parse(text))
    // OPTIONAL inside the constant graph: bob's age comes back as the
    // unmatched fill (g:b's p:2 age is outside the scope), cyn's row
    // is dropped by the FILTER on the optional side
    val rows = q(
      """SELECT ?n ?a WHERE {
        |  GRAPH <g:a> {
        |    ?x :name ?n
        |    OPTIONAL { ?x :age ?a }
        |    FILTER(!BOUND(?a) || ?a > 10)
        |  }
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rows == Set(("ann", Some("30")), ("bob", Some("N/A"))))
    // UNION inside the constant graph stays scoped to its slice
    assert(q(
      """SELECT ?n WHERE {
        |  GRAPH <g:a> { { ?x :name ?n . ?x :age ?a } UNION { ?x :name ?n . FILTER(STRSTARTS(?n, "b")) } }
        |}""".stripMargin)
      .collect().map(_.getString(0)).toSet == Set("ann", "cyn", "bob"))
    // a VARIABLE graph over a general body (r15): the graph column
    // threads through the OPTIONAL's join, so bob's g:a row must NOT
    // adopt the p:2 age that lives only in g:b
    val varRows = q(
      """SELECT ?g ?n ?a WHERE {
        |  GRAPH ?g { ?x :name ?n OPTIONAL { ?x :age ?a } }
        |}""".stripMargin)
      .collect().map(r =>
        (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(varRows == Set(
      ("g:a", "ann", Some("30")),
      ("g:a", "bob", Some("N/A")),
      ("g:a", "cyn", Some("9")),
      ("g:b", "zed", Some("N/A"))))
  }

  test("GROUP_CONCAT DISTINCT collects the value set; ENCODE_FOR_URI escapes") {
    val t = Seq(
      ("x", ":a", "v", Option.empty[Double], false, Option.empty[String]),
      ("x", ":b", "v", None, false, None),
      ("x", ":c", "w", None, false, None),
      ("x", ":name", "a b~c*#", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val q = SparqlParser.parse(
      """SELECT ?s (GROUP_CONCAT(DISTINCT ?v; SEPARATOR=",") AS ?vs)
        |WHERE { ?s ?p ?v } GROUP BY ?s""".stripMargin)
    assert(Compiler.run(t, q).collect().head.getString(1) == "a b~c*#,v,w")
    // RFC 3986: space/'*'/'#' escape, '~' stays (unreserved)
    val q2 = SparqlParser.parse(
      "SELECT ?e WHERE { ?s :name ?n . BIND(ENCODE_FOR_URI(?n) AS ?e) }")
    assert(Compiler.run(t, q2).collect().map(_.getString(0)).toSeq ==
      Seq("a%20b~c%2A%23"))
  }

  test("STRDT accepts the bare prefixed datatype form") {
    // the canonical SPARQL spelling: pname, not a quoted string
    val q = SparqlParser.parse(
      """SELECT ?x ?k WHERE {
        |  ?x :age ?a .
        |  BIND(STRDT(STR(?a), xsd:double) AS ?k)
        |  FILTER(?k >= 35)
        |}""".stripMargin)
    assert(Compiler.run(triples, q).collect().map(_.getString(0)).toSeq ==
      Seq("p:2"))
  }

  test("UUID()/STRUUID() mint fresh per-row terms") {
    val q = SparqlParser.parse(
      """SELECT ?x ?u ?su WHERE {
        |  ?x :name ?n .
        |  BIND(UUID() AS ?u) BIND(STRUUID() AS ?su)
        |  FILTER(isIRI(?u))
        |}""".stripMargin)
    val rows = Compiler.run(triples, q).collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(rows.length == 2)
    val hex = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    assert(rows.forall { case (u, su) =>
      u.matches(s"urn:uuid:$hex") && su.matches(hex)
    })
    // fresh per solution: both rows differ
    assert(rows.map(_._2).distinct.length == 2)
  }

  test("LANGMATCHES: basic filtering incl. subtags; '*' skips plain literals") {
    val t = Seq(
      ("a", ":c", "x", Option.empty[Double], false, Some("en")),
      ("b", ":c", "y", None, false, Some("en-US")),
      ("c", ":c", "z", None, false, Some("fr")),
      ("d", ":c", "w", None, false, Option.empty[String]))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    def q(range: String) = Compiler.run(t, SparqlParser.parse(
      s"""SELECT ?s WHERE { ?s :c ?v . FILTER(LANGMATCHES(LANG(?v), "$range")) }"""))
      .collect().map(_.getString(0)).toSet
    assert(q("en") == Set("a", "b")) // range matches itself + extensions
    assert(q("EN") == Set("a", "b")) // case-insensitive
    assert(q("*") == Set("a", "b", "c")) // any TAGGED literal, not plain
    assert(q("de").isEmpty)
  }

  test("var-var comparison on mixed types is a type error, not lexical") {
    // ?a numeric (age), ?n plain string (name): SPARQL calls the
    // comparison a type error and drops the row — a lexical fallback
    // would wrongly keep "30" < "ann"
    val q = SparqlParser.parse(
      "SELECT ?x WHERE { ?x :age ?a . ?x :name ?n . FILTER(?a < ?n) }")
    assert(Compiler.run(triples, q).collect().isEmpty)
    // rows where NEITHER side is numeric still compare lexically
    val q2 = SparqlParser.parse(
      "SELECT ?x WHERE { ?x :name ?n . ?y :name ?m . FILTER(?n < ?m) }")
    assert(Compiler.run(triples, q2).collect().map(_.getString(0)).toSeq == Seq("p:1"))
  }

  test("GRAPH ?g with ?g also in a triple position constrains the row") {
    val quads = Seq(
      // g:a's edge points AT g:a itself — the only self-referential row
      ("g:a", "p:1", ":inGraph", "g:a", Option.empty[Double], true, Option.empty[String]),
      ("g:a", "p:2", ":inGraph", "g:b", None, true, None),
      // lookalike LITERAL "g:b" inside g:b: lexical match, different term
      ("g:b", "p:3", ":inGraph", "g:b", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    val rows = Compiler.runQuads(quads, SparqlParser.parse(
      "SELECT ?s ?g WHERE { GRAPH ?g { ?s :inGraph ?g } }"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSet == Set(("p:1", "g:a")))
  }

  test("FROM / FROM NAMED replace the dataset per SPARQL 13.2") {
    val quads = Seq(
      ("g:a", "p:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]),
      ("g:b", "p:2", ":name", "bob", None, false, None),
      ("g:c", "p:3", ":name", "cat", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    def q(text: String) = Compiler.runQuads(quads, SparqlParser.parse(text))
      .collect().map(_.getString(0)).toSet
    // FROM composes the default graph from the listed graphs only
    assert(q("SELECT ?n FROM <g:a> FROM <g:c> WHERE { ?x :name ?n }") ==
      Set("ann", "cat"))
    // FROM NAMED bounds GRAPH; with only FROM, GRAPH matches nothing
    assert(q("SELECT ?n FROM NAMED <g:b> WHERE { GRAPH ?g { ?x :name ?n } }") ==
      Set("bob"))
    assert(q("SELECT ?n FROM <g:a> WHERE { GRAPH ?g { ?x :name ?n } }").isEmpty)
    // ...and with only FROM NAMED, the default graph is empty
    assert(q("SELECT ?n FROM NAMED <g:b> WHERE { ?x :name ?n }").isEmpty)
    // triples-only entry rejects a dataset clause instead of ignoring it
    intercept[IllegalArgumentException] {
      Compiler.run(triples, SparqlParser.parse(
        "SELECT ?n FROM <g:a> WHERE { ?x :name ?n }"))
    }
  }

  test("SAMPLE picks the deterministic minimum group member") {
    val q = SelectQuery(
      where = Bgp(Seq(tp(v("x"), "rdf:type", v("t")))),
      projection = Seq("t", "rep"),
      aggregates = Seq(Agg(Sample, Some(v("x")), "rep")),
      groupBy = Seq("t"))
    assert(Compiler.run(triples, q).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set((":Person", "p:1")))
  }

  test("Results.toCsv quotes per RFC 4180, nulls serialize empty") {
    val df = Seq(("plain", "a,b", "q\"t", "nl\nx", null: String))
      .toDF("a", "b", "c", "d", "e")
    val line = Results.toCsv(df).as[String].collect().head
    assert(line == "plain,\"a,b\",\"q\"\"t\",\"nl\nx\",")
  }

  test("Results.toJsonLines escapes quotes/backslashes, nulls go bare") {
    val df = Seq(("plain", "q\"t", "b\\s", null: String))
      .toDF("a", "b", "c", "d")
    val line = Results.toJsonLines(df).as[String].collect().head
    assert(line == """{"a":"plain","b":"q\"t","c":"b\\s","d":null}""")
  }

  test("LOAD executes: file URL, INTO GRAPH, SILENT, format inference") {
    import java.nio.file.Files
    val ttl = Files.createTempFile("graft_load_spec_", ".ttl")
    try {
      Files.write(ttl,
        ("@prefix ex: <http://x/> .\n" +
          "ex:a ex:p ex:b .\n" +
          "ex:a ex:q \"lit\" .\n").getBytes("UTF-8"))
      // triple-store LOAD: .ttl dispatches the Turtle parser
      val store0 = triples
      val loaded = graft.Graft.update(store0, "LOAD <file://" + ttl + ">")
      assert(loaded.count() == store0.count() + 2)
      assert(loaded.filter($"s" === "http://x/a").count() == 2)
      // SILENT swallows a missing source; non-SILENT must throw
      assert(graft.Graft.update(loaded,
        "LOAD SILENT <file:///no/such/file.nt>").count() == loaded.count())
      intercept[Exception] {
        graft.Graft.update(loaded, "LOAD <file:///no/such/file.nt>").count()
      }
      // unknown extension is a pointed error
      intercept[IllegalArgumentException] {
        graft.Graft.update(loaded, "LOAD <file:///d/x.dat>")
      }
      // quad-store LOAD INTO GRAPH: the destination overrides
      val quads = triples.withColumn("g", org.apache.spark.sql.functions.lit("g:base"))
      val q2 = graft.Graft.updateQuads(quads,
        "LOAD <file://" + ttl + "> INTO GRAPH <urn:gl>")
      assert(q2.filter($"g" === "urn:gl").count() == 2)
      assert(q2.count() == quads.count() + 2)
      // set semantics: re-loading the same document into the same graph
      // is idempotent (the store's no-duplicate-quads invariant, like
      // TripleOps.addGraph) — and only the destination slice deduped
      val q3 = graft.Graft.updateQuads(q2,
        "LOAD <file://" + ttl + "> INTO GRAPH <urn:gl>")
      assert(q3.count() == q2.count())
      assert(q3.filter($"g" === "urn:gl").count() == 2)
      // plain LOAD on a quad relation: valid SPARQL (default-graph
      // target) but the quad model's default graph is the read-time
      // union — pointed error naming INTO GRAPH, not a generic mismatch
      val e = intercept[IllegalArgumentException] {
        graft.Graft.updateQuads(quads, "LOAD <file://" + ttl + ">")
      }
      assert(e.getMessage.contains("INTO GRAPH"))
      graft.Checkpoints.releaseCaches()
    } finally Files.deleteIfExists(ttl)
  }

  test("sparql_update_load deletes its LOAD file at the release") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def loadFiles = tmp.list().count(_.startsWith("graft_load_"))
    val before = loadFiles
    val counts = graft.SparkEntry.queries("sparql_update_load")(spark, SharedSpark.sfDir)
      .collect()
    assert(counts.nonEmpty)
    graft.Checkpoints.releaseCaches()
    assert(loadFiles == before)
  }

  test("WITH / USING scope the template modify (SPARQL Update §3.1.3)") {
    val quads = Seq(
      ("g:a", "x:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]),
      ("g:a", "x:2", ":name", "bob", None, false, None),
      // g:b carries an IDENTICAL triple to g:a's — WITH must leave it
      ("g:b", "x:1", ":name", "ann", None, false, None),
      ("g:c", "y:1", ":tag", "keep", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    def upd(q: org.apache.spark.sql.DataFrame, text: String) =
      graft.Graft.updateQuads(q, text)
    def rows(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3))).toSet

    // WITH scopes WHERE + both templates to g:a: the rename touches
    // only g:a's slice; g:b's identical triple survives
    val r1 = upd(quads,
      "WITH <g:a> DELETE { ?s :name ?n } INSERT { ?s :label ?n } WHERE { ?s :name ?n }")
    assert(rows(r1.select("g", "s", "p", "o")) == Set(
      ("g:a", "x:1", ":label", "ann"), ("g:a", "x:2", ":label", "bob"),
      ("g:b", "x:1", ":name", "ann"), ("g:c", "y:1", ":tag", "keep")))

    // USING overrides the WHERE's default graph (reads g:c), WITH
    // still names the write target (g:a)
    val r2 = upd(quads,
      "WITH <g:a> INSERT { ?s :copied ?v } USING <g:c> WHERE { ?s :tag ?v }")
    assert(r2.count() == quads.count() + 1)
    assert(rows(r2.filter($"p" === ":copied").select("g", "s", "p", "o")) ==
      Set(("g:a", "y:1", ":copied", "keep")))
    // re-running the same INSERT is idempotent (set semantics)
    assert(upd(r2, "WITH <g:a> INSERT { ?s :copied ?v } USING <g:c> WHERE { ?s :tag ?v }")
      .count() == r2.count())

    // USING NAMED bounds GRAPH inside the WHERE like FROM NAMED
    val r3 = upd(quads,
      """WITH <g:c> INSERT { ?s :seen ?n }
        |USING NAMED <g:b> WHERE { GRAPH ?g { ?s :name ?n } }""".stripMargin)
    assert(rows(r3.filter($"p" === ":seen").select("g", "s", "p", "o")) ==
      Set(("g:c", "x:1", ":seen", "ann")))

    // a modify with no WITH needs the triple-store form: pointed error
    val e = intercept[IllegalArgumentException] {
      upd(quads, "DELETE { ?s :name ?n } INSERT { ?s :label ?n } WHERE { ?s :name ?n }")
    }
    assert(e.getMessage.contains("use apply"))
    // and a USING-only modify (no WITH) points at the missing WITH
    val e2 = intercept[IllegalArgumentException] {
      upd(quads, "INSERT { ?s :label ?n } USING <g:a> WHERE { ?s :name ?n }")
    }
    assert(e2.getMessage.contains("WITH"))
    // prefix expansion reaches WITH and USING graph names
    val r4 = upd(quads,
      """PREFIX gg: <g:>
        |WITH gg:a INSERT { ?s :label2 ?n } USING gg:b WHERE { ?s :name ?n }""".stripMargin)
    assert(rows(r4.filter($"p" === ":label2").select("g", "s", "p", "o")) ==
      Set(("g:a", "x:1", ":label2", "ann")))
  }

  test("stats phase 2: closure seed direction flips with the planted stats") {
    import graft.rdf.TripleStats
    import graft.rdf.TripleStats.PredStat
    // a chain a→b→c→d plus a fan-in hub so both directions have work
    val chain = Seq(
      ("n:a", ":next", "n:b", Option.empty[Double], true, Option.empty[String]),
      ("n:b", ":next", "n:c", None, true, None),
      ("n:c", ":next", "n:d", None, true, None),
      ("n:x", ":next", "n:d", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    // many-to-one (child→parent): avg in-degree (n/objects) EXCEEDS
    // avg out-degree (n/subjects) — forward from the subject is the
    // narrow frontier, so backward must NOT be chosen
    val m2o = TripleStats.registerPrecomputed(chain,
      Map(":next" -> PredStat(1000, 1000, 10)))
    assert(!Compiler.backwardSeedCheaper(m2o, Seq(":next")),
      "many-to-one edges must seed FORWARD")
    // one-to-many (parent→child): the inverse — backward is narrower
    val o2m = TripleStats.registerPrecomputed(
      chain.select("*"), // distinct frame identity for the registry
      Map(":next" -> PredStat(1000, 10, 1000)))
    assert(Compiler.backwardSeedCheaper(o2m, Seq(":next")),
      "one-to-many edges must seed BACKWARD")
    // unregistered → no stats → the historical forward default
    assert(!Compiler.backwardSeedCheaper(chain.select("*"), Seq(":next")))
    // correctness is direction-independent: the both-bound closure
    // answers identically under either planted profile
    def ask(t: DataFrame, q: String) =
      Compiler.run(t, SparqlParser.parse(q)).count()
    val q = "SELECT ?x WHERE { BIND(1 AS ?x) FILTER EXISTS { <n:a> :next+ <n:d> } }"
    assert(ask(m2o, q) == 1 && ask(o2m, q) == 1)
    val qNeg = "SELECT ?x WHERE { BIND(1 AS ?x) FILTER EXISTS { <n:d> :next+ <n:a> } }"
    assert(ask(m2o, qNeg) == 0 && ask(o2m, qNeg) == 0)
  }

  test("Results.toTsv escapes tab/newline/backslash, nulls go empty") {
    // backslash doubles FIRST, so a literal "\t" in the data becomes
    // \\t, distinct from a real tab's \t — the round-trippable order
    val df = Seq(("plain", "a\tb", "n\nx", "c\\t", null: String))
      .toDF("a", "b", "c", "d", "e")
    val line = Results.toTsv(df).as[String].collect().head
    assert(line == "plain\ta\\tb\tn\\nx\tc\\\\t\t")
  }
}
