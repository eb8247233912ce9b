package graft.rdf

import graft.{Graft, SharedSpark}
import graft.inference.Reasoner
import graft.sparql.W3cFixtures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

/** The triple store's two physical forms answer alike: persisted rows
  * (a store within `Regime.budget`) and the columnar cache (over it)
  * give the same rows, with the same multiplicities and schema, for
  * every query shape the SPARQL benchmark runs, for the two reasoner
  * lookups, and for the W3C fixtures. The sf0.001 store is served in
  * both forms: as rows by the shared session, and columnar by a
  * session gated at 0 triples.
  */
class StoreFormSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = SharedSpark.sfDir

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `query` gives the same answer over `asRows` and `columnar`. */
  private def same(what: String, asRows: DataFrame, columnar: DataFrame)
                  (query: DataFrame => DataFrame): Unit = {
    val (r, c) = (query(asRows), query(columnar))
    assert(r.schema == c.schema, what)
    val got = rows(r)
    assert(got.nonEmpty, s"$what: an empty answer compares nothing")
    assert(got == rows(c), what)
  }

  // the benchmark's SPARQL templates at fixed constants
  private val templates = Seq(
    "bgp_star" -> """SELECT ?c ?n ?b WHERE {
      ?c a :Customer . ?c :name ?n . ?c :mktsegment "BUILDING" . ?c :acctbal ?b .
      FILTER(?b > 1000.0) }""",
    "bgp_chain_filter" -> """SELECT ?o ?t WHERE {
      ?o :byCustomer ?c . ?c :hasNation nat:3 . ?o :totalprice ?t .
      FILTER(?t > 1000.0) }""",
    "filter_compare" -> """SELECT ?p ?sz ?rp WHERE {
      ?p a :Part . ?p :size ?sz . ?p :brand ?b . ?p :ptype "PROMO" .
      ?p :retailprice ?rp .
      FILTER(?sz >= 1) FILTER(?sz <= 50) FILTER(?b != "Brand#11") }""",
    "optional_filter" -> """SELECT DISTINCT ?c ?pr WHERE {
      ?c a :Customer . ?c :hasNation nat:3 .
      OPTIONAL { ?o :byCustomer ?c . ?o :orderpriority ?pr . FILTER(?pr = "1-URGENT") } }""",
    "exists" -> """SELECT ?c WHERE {
      ?c a :Customer . ?c :mktsegment "BUILDING" .
      FILTER EXISTS { ?o :byCustomer ?c . ?o :orderstatus "F" } }""",
    "not_exists" -> """SELECT ?c WHERE {
      ?c a :Customer . ?c :hasNation nat:3 .
      FILTER NOT EXISTS { ?o :byCustomer ?c . ?o :orderpriority "1-URGENT" } }""",
    "union" -> """SELECT ?x ?nm WHERE {
      { ?x a :Nation . ?x :inRegion reg:1 . ?x :name ?nm }
      UNION { ?x a :Supplier . ?x :hasNation nat:3 . ?x :name ?nm } }""",
    "groupby_count" -> """SELECT ?m (COUNT(?c) AS ?cnt) WHERE {
      ?c :mktsegment ?m . ?c :hasNation nat:3 } GROUP BY ?m""",
    "groupby_max" -> """SELECT ?n (MAX(?b) AS ?mx) WHERE {
      ?c a :Customer . ?c :hasNation ?n . ?c :mktsegment "BUILDING" . ?c :acctbal ?b
      } GROUP BY ?n""",
    "count_distinct" -> """SELECT ?b (COUNT(DISTINCT ?t) AS ?n_types) WHERE {
      ?p :brand ?b . ?p :ptype ?t . ?p :size ?sz . FILTER(?sz > 10) } GROUP BY ?b""",
    "orderby_limit" -> """SELECT ?c ?b WHERE {
      ?c a :Customer . ?c :acctbal ?b . ?c :mktsegment "BUILDING" }
      ORDER BY DESC(?b) ASC(?c) LIMIT 10 OFFSET 5""",
    "subquery" -> """SELECT ?nm ?cnt WHERE {
      { SELECT ?n (COUNT(?c) AS ?cnt) WHERE {
          ?c a :Customer . ?c :hasNation ?n . ?c :mktsegment "BUILDING" } GROUP BY ?n }
      ?n :name ?nm . }""",
    "path_plus" -> "SELECT ?x WHERE { ?x (:hasNation|:inRegion)+ reg:1 }",
    "ask" -> """ASK { ?c a :Customer . ?c :hasNation nat:3 . ?c :acctbal ?b .
      FILTER(?b > 5000.0) }""",
    "construct" -> """CONSTRUCT { ?c :inSegment ?m }
      WHERE { ?c a :Customer ; :mktsegment ?m ; :hasNation nat:3 . }""",
    "describe" -> "DESCRIBE ?n WHERE { ?n a :Nation ; :inRegion reg:1 }")

  test("the sf0.001 store is served as rows, and columnar through the gate") {
    val asRows = TripleStore.triples(spark, dir)
    assert(asRows.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    val columnar = TripleStore.triples(SharedSpark.columnar, dir)
    assert(columnar.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
    assert(asRows.schema == columnar.schema)
    assert(rows(asRows) == rows(columnar))
  }

  test("every SPARQL template shape answers alike over both forms") {
    val asRows = TripleStore.triples(spark, dir)
    val columnar = TripleStore.triples(SharedSpark.columnar, dir)
    for ((name, text) <- templates)
      same(name, asRows, columnar)(Graft.query(_, text))
  }

  test("the reasoner lookups answer alike over both dimension slices") {
    val asRows = TripleStore.dimensionTriples(spark, dir)
    val columnar = TripleStore.dimensionTriples(SharedSpark.columnar, dir)
    for (label <- Seq(":Agent", ":Place", ":Customer"))
      same(s"nodesWithLabel $label", asRows, columnar)(
        Reasoner.nodesWithLabel(spark, _, label))
    for (g <- 0 until 5)
      same(s"nodesInCategory reg:$g", asRows, columnar)(dim =>
        Reasoner.nodesInCategory(spark, PropertyGraph.edges(dim), s"reg:$g",
          ":inRegion", ":hasNation"))
    graft.Checkpoints.releaseCaches()
  }

  test("the W3C fixtures answer alike served in both forms") {
    val cases = Seq(
      W3cFixtures.people -> Seq(
        "SELECT ?x ?n WHERE { ?x rdf:type :Person . ?x :name ?n . ?x :mbox ?m }",
        "SELECT ?n ?a WHERE { ?x :name ?n OPTIONAL { ?x :age ?a FILTER(?a > 28) } }",
        "SELECT ?x WHERE { ?x rdf:type :Person . FILTER NOT EXISTS { ?x :mbox ?m } }",
        "SELECT ?x WHERE { ?x rdf:type :Person MINUS { ?x :mbox ?m } }",
        "SELECT ?n ?a2 WHERE { ?x :name ?n . ?x :age ?a BIND(?a + 1 AS ?a2) FILTER(?a2 > 35) }",
        "SELECT ?x ?n WHERE { ?x :name ?n VALUES ?x { <p:alice> <p:carol> } }",
        """SELECT ?x ?g WHERE { ?x :greeting ?g FILTER(LANG(?g) = "fr") }""",
        "SELECT ?n WHERE { ?x :name ?n } ORDER BY DESC(?n) LIMIT 2",
        "ASK { ?x :knows ?y . ?y :knows ?z }",
        "CONSTRUCT { ?y :knownBy ?x } WHERE { ?x :knows ?y }",
        "DESCRIBE <p:bob>"),
      W3cFixtures.orgs -> Seq(
        "SELECT ?org (COUNT(?emp) AS ?n) WHERE { ?org :affiliates ?dep . ?dep :employee ?emp } GROUP BY ?org",
        "SELECT ?dep (SUM(?s) AS ?tot) WHERE { ?dep :employee ?e . ?e :salary ?s } GROUP BY ?dep HAVING (SUM(?s) > 250)",
        "SELECT ?dep ?hi WHERE { ?dep :employee ?e . ?e :salary ?hi { SELECT (MAX(?s) AS ?hi) WHERE { ?e2 :salary ?s } } }"),
      W3cFixtures.paths -> Seq(
        "SELECT ?x ?y WHERE { ?x :p+ ?y }",
        "SELECT ?y WHERE { <n:a> :p* ?y }",
        "SELECT ?y WHERE { <n:a> :q/:r ?y }",
        """SELECT ?x WHERE { ?x :p? "lit1" }"""))
    for ((fixture, queries) <- cases) {
      val asRows = TripleStore.serve(fixture, asRows = true)
      val columnar = TripleStore.serve(fixture, asRows = false)
      try queries.foreach(q => same(q, asRows, columnar)(Graft.query(_, q)))
      finally Seq(asRows, columnar).foreach(TripleStore.release)
    }
  }
}
