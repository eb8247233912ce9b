package graft.sparql

import graft.rdf.TripleStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, round}
import Ast._

/** SURVEY §B: the SPARQL query surface as driver-checkable entries.
  * Each query compiles an algebra tree (or parses SPARQL text) onto
  * the cached triple relation; the oracle reconstructs the same answer
  * with plain SQL over the base tables.
  *
  * Numeric variables are projected via their typed companion (cast to
  * double) so the oracle compares doubles, not lexical forms.
  */
object SparqlQueries {

  private def v(n: String) = Var(n)
  private def i(x: String) = Iri(x)
  private def num(d: Double) = Lit(d.toString, Some(d))
  private def str(s: String) = Lit(s, None)
  private def tp(s: Term, p: String, o: Term) = TriplePattern(s, Iri(p), o)

  private def run(spark: SparkSession, dir: String, q: SelectQuery,
                  numericVars: Seq[String] = Seq.empty): DataFrame = {
    val out = Compiler.run(TripleStore.triples(spark, dir), q)
    numericVars.foldLeft(out)((df, c) => df.withColumn(c, col(c).cast("double")))
  }

  /** A small named-graph dataset over the dimension slice: per-entity
    * :name triples split into three graphs (the quad-store shape the
    * TriG/N-Quads importers produce).
    */
  private def namedGraphQuads(spark: SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val t = TripleStore.dimensionTriples(spark, dir)
    def slice(pfx: String, g: String) =
      t.filter(col("s").startsWith(pfx) && col("p") === ":name")
        .withColumn("g", org.apache.spark.sql.functions.lit(g))
    slice("nat:", "g:nation")
      .unionAll(slice("reg:", "g:region"))
      .unionAll(slice("supp:", "g:supp"))
      .select(col("g"), col("s"), col("p"), col("o"),
        col("o_num"), col("o_is_iri"), col("lang"))
  }

  /** The star BGP behind `sparql_bgp_star`; `sparql_bgp_star_bucketed`
    * is a second driver key for the same query over the same store.
    */
  private val STAR_BGP =
    """SELECT ?c ?n ?m ?b WHERE {
      |  ?c a :Customer .
      |  ?c :name ?n .
      |  ?c :mktsegment ?m .
      |  ?c :acctbal ?b .
      |}""".stripMargin

  private val starBgp: (SparkSession, String) => DataFrame = (s, dir) =>
    run(s, dir, SparqlParser.parse(STAR_BGP), numericVars = Seq("b"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sparql_bgp_star" -> starBgp,
    "sparql_bgp_star_bucketed" -> starBgp,
    "sparql_bgp_chain" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?l ?rn ?q WHERE {
          |  ?l :ofOrder ?o . ?o :byCustomer ?c .
          |  ?c :hasNation ?n . ?n :inRegion ?r . ?r :name ?rn .
          |  ?l :quantity ?q .
          |  FILTER(?q > 45)
          |}""".stripMargin), numericVars = Seq("q"))
    },
    "sparql_filter_compare" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?p ?sz ?b ?rp WHERE {
          |  ?p a :Part .
          |  ?p :size ?sz . ?p :brand ?b .
          |  ?p :ptype ?t . ?p :retailprice ?rp .
          |  FILTER(?sz >= 40) FILTER(?sz <= 48)
          |  FILTER(?rp > 900) FILTER(?rp < 1500)
          |  FILTER(?b != "Brand#33") FILTER(?t = "ECONOMY")
          |}""".stripMargin), numericVars = Seq("sz", "rp"))
    },
    "sparql_filter_logic" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?b ?m WHERE {
          |  ?c :acctbal ?b . ?c :mktsegment ?m .
          |  FILTER(?b > 9000 && ?m = "BUILDING" || ?b < -900)
          |}""".stripMargin), numericVars = Seq("b"))
    },
    "sparql_optional" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT DISTINCT ?c ?pr WHERE {
          |  ?c a :Customer .
          |  OPTIONAL { ?o :byCustomer ?c . ?o :orderpriority ?pr }
          |}""".stripMargin))
    },
    // FILTER scoped INSIDE the OPTIONAL group — the semantic corner
    // where placement changes the answer: the filter restricts which
    // rows can MATCH (the SQL ON-clause position), it does not drop
    // customers whose optional side fails it — those keep their row
    // with the N/A fill. A post-join FILTER would delete them (r9 b23)
    "sparql_optional_filter" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT DISTINCT ?c ?pr WHERE {
          |  ?c a :Customer .
          |  OPTIONAL { ?o :byCustomer ?c . ?o :orderpriority ?pr .
          |             FILTER(?pr = "1-URGENT") }
          |}""".stripMargin))
    },
    // the OPTIONAL body's FILTER reads an OUTER var — §8.1.1
    // LeftJoin(P1, P2, F): the filter is the JOIN CONDITION over the
    // merged bindings (rich customers keep their order matches, poor
    // ones keep their row with the N/A fill); evaluating it inside
    // the body frame would type-error and kill every match (r15.c)
    "sparql_optional_join_filter" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT DISTINCT ?c ?pr WHERE {
          |  ?c a :Customer . ?c :acctbal ?b .
          |  OPTIONAL { ?o :byCustomer ?c . ?o :orderpriority ?pr .
          |             FILTER(?b > 5000) }
          |}""".stripMargin))
    },
    "sparql_union" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?x ?nm WHERE {
          |  { ?x a :Nation . ?x :name ?nm }
          |  UNION { ?x a :Region . ?x :name ?nm }
          |}""".stripMargin))
    },
    "sparql_distinct" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT DISTINCT ?m WHERE { ?c :mktsegment ?m }"))
    },
    "sparql_orderby_limit" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?b WHERE { ?c a :Customer . ?c :acctbal ?b }
          |ORDER BY DESC(?b) ASC(?c) LIMIT 15 OFFSET 5""".stripMargin),
        numericVars = Seq("b"))
    },
    "sparql_groupby_count" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?m (COUNT(?c) AS ?cnt) WHERE { ?c :mktsegment ?m }
          |GROUP BY ?m""".stripMargin))
    },
    "sparql_count_distinct" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?b (COUNT(DISTINCT ?t) AS ?n_types)
          |WHERE { ?p :brand ?b . ?p :ptype ?t }
          |GROUP BY ?b""".stripMargin))
    },
    "sparql_groupby_max" -> { (s, dir) =>
      // MIN/MAX output the element's LEXICAL form (r12 pair-fold);
      // the numeric oracle wants the double
      run(s, dir, SparqlParser.parse(
        """SELECT ?n (MAX(?b) AS ?mx) WHERE {
          |  ?c a :Customer . ?c :hasNation ?n . ?c :acctbal ?b
          |} GROUP BY ?n""".stripMargin), numericVars = Seq("mx"))
    },
    "sparql_exists" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c WHERE {
          |  ?c a :Customer .
          |  FILTER EXISTS { ?o :byCustomer ?c . ?o :orderstatus "F" }
          |}""".stripMargin))
    },
    "sparql_not_exists" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c WHERE {
          |  ?c a :Customer .
          |  FILTER NOT EXISTS { ?o :byCustomer ?c .
          |                      ?o :orderpriority "1-URGENT" }
          |}""".stripMargin))
    },
    "sparql_groupby_sum_avg" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c (SUM(?t) AS ?total) (MIN(?t) AS ?mn)
          |       (COUNT(?o) AS ?cnt)
          |WHERE { ?o :byCustomer ?c . ?o :totalprice ?t }
          |GROUP BY ?c""".stripMargin), numericVars = Seq("mn"))
        // totalprice is 2-decimal-quantized, so the rounded sum is
        // drift-proof under the oracle hash; AVG (whose division
        // lands on rounding boundaries) is exercised in CompilerSpec
        .withColumn("total", round(col("total"), 2))
    },
    "sparql_groupby_avg_rational" -> { (s, dir) =>
      // AVG under the driver hash, via its exact rational witness:
      // the division result itself drifts ulps across engines, but
      // av*cnt reconstructs the 2-decimal-quantized group sum to well
      // within rounding distance (relative error ~1e-16 of a value
      // whose true form has 2 decimals), so round(av*cnt, 2) is
      // hash-stable on BOTH engines iff each engine's AVG really is
      // SUM/COUNT of the same group — the oracle AVG escaped until now
      run(s, dir, SparqlParser.parse(
        """SELECT ?c (AVG(?t) AS ?av) (COUNT(?o) AS ?cnt)
          |       (SUM(?t) AS ?sm)
          |WHERE { ?o :byCustomer ?c . ?o :totalprice ?t }
          |GROUP BY ?c""".stripMargin))
        .select(col("c"),
          round(col("av") * col("cnt"), 2).as("av_times_cnt"),
          round(col("sm"), 2).as("sm"), col("cnt"))
    },
    "sparql_path_plus" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT ?x ?y WHERE { ?x (:hasNation|:inRegion)+ ?y }"))
    },
    // SPARQL 1.1 §9.1 path NESTING: a closure over a parenthesized
    // SEQUENCE — here (:inRegion/^:inRegion)+, the same-region
    // nation↔nation relation composed from a forward and an inverse
    // leg, then transitively closed (it converges after one round:
    // same-region is already an equivalence). Beyond-reference: the
    // reference's Jena-fed compiler rejects this form too (r10)
    "sparql_path_seq_plus" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT ?x ?y WHERE { ?x (:inRegion/^:inRegion)+ ?y }"))
    },
    // range over a parenthesized sequence — the last nesting
    // combination: (:hasNation/:inRegion){1,2}; k=1 is entity→region,
    // k=2 composes onto regions with no outgoing :hasNation and is
    // empty, so the result IS the k=1 relation — exercising the
    // empty-higher-hop union leg (r10)
    "sparql_path_seq_range" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT ?x ?y WHERE { ?x (:hasNation/:inRegion){1,2} ?y }"))
    },
    // `{n,}` — unbounded-above range (ARQ extension the reference's
    // Jena front end accepts): n-1 exact hops composed with the
    // one-or-more closure. Over the entity→nation→region hierarchy
    // {2,} is exactly the two-hop entity→region relation (no deeper
    // edges exist), so the oracle is the plain two-hop join while the
    // ENGINE still runs the full prefix∘closure machinery
    "sparql_path_range_min" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT ?x ?y WHERE { ?x (:hasNation|:inRegion){2,} ?y }"))
    },
    "sparql_parser_e2e" -> { (s, dir) =>
      val text =
        """SELECT ?c ?b ?m WHERE {
          |  ?c a :Customer ; :acctbal ?b ; :mktsegment ?m .
          |  FILTER(?b >= 9000 && ?m != "MACHINERY")
          |} ORDER BY DESC(?b) ASC(?c) LIMIT 25""".stripMargin
      run(s, dir, SparqlParser.parse(text), numericVars = Seq("b"))
    },
    // GROUP_CONCAT: values sorted before joining (deterministic under
    // distributed aggregation), custom separator
    "sparql_group_concat" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?r (GROUP_CONCAT(?n; SEPARATOR="|") AS ?names) WHERE {
          |  ?x :inRegion ?r . ?x :name ?n .
          |} GROUP BY ?r""".stripMargin))
    },
    // GROUP_CONCAT(DISTINCT): the value SET, sorted then joined —
    // duplicate segments from a nation's many customers collapse
    "sparql_group_concat_distinct" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?n (GROUP_CONCAT(DISTINCT ?m; SEPARATOR=",") AS ?segs) WHERE {
          |  ?c :hasNation ?n . ?c :mktsegment ?m .
          |} GROUP BY ?n""".stripMargin))
    },
    // ENCODE_FOR_URI: RFC 3986 percent-encoding of the lexical form
    "sparql_encode_uri" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?x ?e WHERE {
          |  ?x :inRegion ?r . ?x :name ?n .
          |  BIND(ENCODE_FOR_URI(?n) AS ?e)
          |}""".stripMargin))
    },
    // query-time language filter (the reference only filters language
    // at import time) — lang() over the hidden language companion
    "sparql_lang_filter" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?n ?c WHERE { ?n :comment ?c . FILTER(LANG(?c) = "en") }"""))
    },
    // LANGMATCHES: RFC 4647 basic filtering over the lang companion
    "sparql_langmatches" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?n ?c WHERE {
          |  ?n :comment ?c . FILTER(LANGMATCHES(LANG(?c), "fr"))
          |}""".stripMargin))
    },
    // STRLANG/STRDT literal construction: the minted tag feeds
    // LANGMATCHES (subtag matching), the minted double feeds a
    // numeric FILTER — proving the companions attach, not just lexify
    "sparql_strlang_strdt" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?x ?t ?k WHERE {
          |  ?x :inRegion ?r . ?x :name ?n .
          |  BIND(STRLANG(?n, "en-GB") AS ?t)
          |  BIND(STRDT(SUBSTR(STR(?x), 5), "xsd:double") AS ?k)
          |  FILTER(LANGMATCHES(LANG(?t), "en") && ?k >= 10)
          |}""".stripMargin))
    },
    // ASK query form: limit-1 short-circuited existence check
    "sparql_ask" -> { (s, dir) =>
      val yes = Compiler.ask(TripleStore.triples(s, dir), SparqlParser.parseAsk(
        "ASK { ?c a :Customer . ?c :acctbal ?b . FILTER(?b >= 0) }"))
        .withColumnRenamed("ask", "ask_pos")
      val no = Compiler.ask(TripleStore.triples(s, dir), SparqlParser.parseAsk(
        """ASK { ?c :mktsegment "NO_SUCH_SEGMENT" }"""))
        .withColumnRenamed("ask", "ask_neg")
      yes.crossJoin(no)
    },
    // CONSTRUCT query form: template instantiated per solution
    "sparql_construct" -> { (s, dir) =>
      val (tmpl, where) = SparqlParser.parseConstruct(
        """CONSTRUCT { ?c :inSegment ?m . ?c a :Client }
          |WHERE { ?c a :Customer ; :mktsegment ?m . }""".stripMargin)
      Compiler.construct(TripleStore.triples(s, dir), tmpl, where)
    },
    // SPARQL 1.1 §10.2.3 CONSTRUCT WHERE shorthand: the pattern IS
    // the template — extract the supplier subgraph verbatim (r10)
    "sparql_construct_where" -> { (s, dir) =>
      val (tmpl, where) = SparqlParser.parseConstruct(
        "CONSTRUCT WHERE { ?s a :Supplier . ?s :hasNation ?n . }")
      Compiler.construct(TripleStore.triples(s, dir), tmpl, where)
    },
    // the reference's /cypheronrdf composition (RDFEndpoint.java:100):
    // query the graph, respond in RDF — textual CONSTRUCT compiled to
    // a typed triple set, serialized straight to N-Triples lines
    "sparql_construct_ntriples" -> { (s, dir) =>
      val (tmpl, where) = SparqlParser.parseConstruct(
        """CONSTRUCT { ?c :inSegment ?m . ?c a :Client }
          |WHERE { ?c a :Customer ; :mktsegment ?m . }""".stripMargin)
      graft.rdf.NTriples.format(
        Compiler.constructTyped(TripleStore.triples(s, dir), tmpl, where))
    },
    // SELECT results serialized to SPARQL-CSV lines (the /cypher
    // response leg of the reference endpoint): the BIND injects a
    // comma and a quote so the RFC 4180 quoting path is actually
    // exercised under the oracle, not just the passthrough
    "sparql_results_csv" -> { (s, dir) =>
      val text =
        """SELECT ?c ?m ?q WHERE {
          |  ?c a :Customer ; :mktsegment ?m .
          |  BIND(CONCAT(?m, ",\"x\"") AS ?q)
          |}""".stripMargin
      Results.toCsv(run(s, dir, SparqlParser.parse(text)))
    },
    // the endpoint's third results leg: W3C SPARQL-TSV — escape, not
    // quote; the BIND injects a tab + backslash so the escaping path
    // runs under the oracle
    "sparql_results_tsv" -> { (s, dir) =>
      val text =
        "SELECT ?c ?m ?q WHERE {\n" +
          "  ?c a :Customer ; :mktsegment ?m .\n" +
          "  BIND(CONCAT(?m, \"\\ta\\\\b\") AS ?q)\n}"
      Results.toTsv(run(s, dir, SparqlParser.parse(text)))
    },
    // the same projection as JSON-lines — quote/backslash escaping
    // exercised by the same injected ?q value
    "sparql_results_json" -> { (s, dir) =>
      val text =
        """SELECT ?c ?m ?q WHERE {
          |  ?c a :Customer ; :mktsegment ?m .
          |  BIND(CONCAT(?m, ",\"x\"") AS ?q)
          |}""".stripMargin
      Results.toJsonLines(run(s, dir, SparqlParser.parse(text)))
    },
    // the W3C-mandatory XML results leg, entity escaping exercised by
    // an injected `<&>` value (r10)
    "sparql_results_xml" -> { (s, dir) =>
      val text =
        """SELECT ?c ?m ?q WHERE {
          |  ?c a :Customer ; :mktsegment ?m .
          |  BIND(CONCAT(?m, "<&>") AS ?q)
          |}""".stripMargin
      Results.toXmlResults(run(s, dir, SparqlParser.parse(text)))
    },
    // VALUES inline binding joined against the group
    "sparql_values" -> { (s, dir) =>
      val text =
        """SELECT ?c ?m WHERE {
          |  ?c :mktsegment ?m .
          |  VALUES ?m { "BUILDING" "MACHINERY" }
          |}""".stripMargin
      run(s, dir, SparqlParser.parse(text))
    },
    // sequence path (p1/p2 with fresh intermediates) through the
    // textual parser — customers' region names in one path expression
    "sparql_path_seq" -> { (s, dir) =>
      val text =
        """SELECT ?c ?n WHERE {
          |  ?c a :Customer .
          |  ?c :hasNation/:inRegion/:name ?n .
          |}""".stripMargin
      run(s, dir, SparqlParser.parse(text))
    },
    // alternation NESTED inside a sequence (r14, §9.1's last nesting
    // shape): the second step is a (forward|inverse) choice — region
    // of the supplier's nation OR any same-nation entity walked back
    // over ^:hasNation (including the supplier itself). Bag semantics:
    // the combo expansion unions one plain sequence per choice
    "sparql_path_alt_in_seq" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?x ?y WHERE {
          |  ?x a :Supplier .
          |  ?x :hasNation/(:inRegion|^:hasNation) ?y .
          |}""".stripMargin))
    },
    // inverse path steps (^p): the textual surface of the ^-operator —
    // two inverse hops walk region → nation → supplier BACKWARDS
    // through the forward-edged store; each inverse step compiles to
    // the same equi-join with its endpoints swapped, so direction is
    // a column choice, not a different plan shape (r9 b19)
    "sparql_path_inverse" -> { (s, dir) =>
      val text =
        """SELECT ?r ?s WHERE {
          |  ?r ^:inRegion/^:hasNation ?s .
          |  ?s a :Supplier .
          |}""".stripMargin
      run(s, dir, SparqlParser.parse(text))
    },
    // MINUS: anti-join on the shared variable (vs NOT EXISTS, which
    // correlates; MINUS with disjoint domains removes nothing)
    "sparql_minus" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?m WHERE {
          |  ?c :mktsegment ?m .
          |  MINUS { ?c :hasNation <nat:3> }
          |}""".stripMargin))
    },
    // BIND: computed bindings — numeric arithmetic (typed double, like
    // aggregate aliases) and a string builtin over an IRI's lexical
    "sparql_bind" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?o ?cu ?disc WHERE {
          |  ?o :totalprice ?t .
          |  ?o :byCustomer ?c .
          |  BIND(?t * 0.9 AS ?disc)
          |  BIND(UCASE(?c) AS ?cu)
          |  FILTER(?disc > 150000)
          |}""".stripMargin))
    },
    // string-builtin filters: REGEX (unanchored), STRSTARTS, STRENDS,
    // CONTAINS, composed with || — all codegen'd Column predicates
    "sparql_str_filters" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?p ?n ?t WHERE {
          |  ?p a :Part ; :name ?n ; :ptype ?t .
          |  FILTER(REGEX(?n, "^(red|blue) ") || CONTAINS(?n, "gear"))
          |  FILTER(STRSTARTS(?t, "PROMO") || STRENDS(?n, "t"))
          |}""".stripMargin))
    },
    // zero-or-more path from a bound subject: the endpoint itself plus
    // everything reachable over the predicate alternation
    "sparql_path_star" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT ?y WHERE { <cust:7> (:hasNation|:inRegion)* ?y }"))
    },
    // zero-or-one path: each customer relates to itself (zero hops)
    // and to its nation (one hop)
    "sparql_path_zeroone" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT ?c ?y WHERE { ?c a :Customer . ?c :hasNation? ?y }"))
    },
    // bare PathAlternative (no modifier): one hop over either geo
    // predicate — one isin filter keeps BOTH predicates' triples
    "sparql_path_alt" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT ?a ?b WHERE { ?a (:hasNation|:inRegion) ?b }"))
    },
    // expression FILTERs: computed left sides (string length,
    // arithmetic) compared against literals
    "sparql_expr_filter" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?p ?n ?rp WHERE {
          |  ?p a :Part ; :name ?n ; :retailprice ?rp .
          |  FILTER(STRLEN(?n) >= 10)
          |  FILTER(?rp * 2 > 1500)
          |}""".stripMargin), numericVars = Seq("rp"))
    },
    // HAVING over aggregate aliases: post-aggregation constraint on
    // the typed outputs
    "sparql_having" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c (COUNT(?o) AS ?cnt) WHERE {
          |  ?o :byCustomer ?c .
          |} GROUP BY ?c HAVING(?cnt >= 3)""".stripMargin))
    },
    // W3C agg08 shape (r11): HAVING with the DIRECT aggregate form —
    // `HAVING (SUM(?q) > n)` resolves to the projection's aggregate
    // column instead of requiring the alias spelling. Quantities are
    // integral doubles, so the sum is exact on both engines.
    "sparql_having_sum_agg" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c (SUM(?q) AS ?tot) (COUNT(?l) AS ?nl)
          |WHERE { ?l :ofOrder ?o . ?o :byCustomer ?c . ?l :quantity ?q }
          |GROUP BY ?c HAVING (SUM(?q) > 900)""".stripMargin))
    },
    // general HAVING expression (beyond the agg08 direct form): the
    // group constraint is an aggregate RATIO — mean line quantity
    // over 30. Quantities are integers, so sum/count is exact on
    // both engines and the strict compare has no boundary drift
    "sparql_having_expr" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c (COUNT(?l) AS ?nl)
          |WHERE { ?l :ofOrder ?o . ?o :byCustomer ?c . ?l :quantity ?q }
          |GROUP BY ?c HAVING (SUM(?q)/COUNT(?l) > 30)""".stripMargin))
    },
    // §18.2.4.4 SELECT expression over aggregate results — the ratio
    // SUM/COUNT is a single select expression with two embedded
    // aggregate calls, lifted into a hidden inner subquery and bound
    // post-aggregation. The driver-hashable witness is the rational
    // reconstruction (av × cnt = the 2-decimal-quantized group sum,
    // drift-proof under round like the avg_rational key)
    "sparql_select_expr_agg" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c (SUM(?t)/COUNT(?o) AS ?av) (COUNT(?o) AS ?cnt)
          |WHERE { ?o :byCustomer ?c . ?o :totalprice ?t }
          |GROUP BY ?c""".stripMargin))
        .select(col("c"), round(col("av") * col("cnt"), 2).as("av_x_cnt"),
          col("cnt"))
    },
    // §18.2.4.4 ORDER BY over an aggregate call: DESC(COUNT(?c))
    // normalizes onto the projected fold's alias (one aggregation,
    // PlanSpec-pinned), ASC(?m) breaks count ties so the LIMIT slice
    // is deterministic on both engines
    "sparql_order_by_agg" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?m (COUNT(?c) AS ?cnt)
          |WHERE { ?c a :Customer . ?c :mktsegment ?m }
          |GROUP BY ?m ORDER BY DESC(COUNT(?c)) ASC(?m) LIMIT 3""".stripMargin))
    },
    // §18.2.4: the query-final VALUES block joins the GROUPED
    // solutions (after HAVING, before select expressions) — here it
    // constrains the group key, leaving counts untouched
    "sparql_values_post_agg" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?m (COUNT(?c) AS ?cnt)
          |WHERE { ?c a :Customer . ?c :mktsegment ?m }
          |GROUP BY ?m VALUES ?m { "BUILDING" "MACHINERY" }""".stripMargin))
    },
    // W3C GroupCondition `(expr AS ?v)` (r11): the grouping key is a
    // computed expression, desugared into a hidden BIND so the
    // aggregation still runs over a named typed column
    "sparql_groupby_expr" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?bkt (COUNT(?p) AS ?cnt) WHERE {
          |  ?p rdf:type :Part . ?p :size ?sz
          |} GROUP BY (FLOOR(?sz / 10) AS ?bkt)""".stripMargin))
    },
    // W3C Constraint ::= BuiltInCall (r11): FILTER followed by a bare
    // builtin call (no extra parens) + REGEX's XPath "i" flag, which
    // embeds as an inline (?i) group in both engines' regex dialects
    "sparql_regex_flags" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?s ?n WHERE { ?s rdf:type :Customer . ?s :name ?n
          |  FILTER REGEX(?n, "^CUSTOMER#.*19$", "i") }""".stripMargin))
    },
    // W3C OrderCondition ::= BrackettedExpression (r11): a bare
    // parenthesized expression as the sort key (ascending), with a
    // unique subject tie-break so the LIMITed set is deterministic
    "sparql_orderby_bracket" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?p ?sz WHERE { ?p rdf:type :Part . ?p :size ?sz }
          |ORDER BY (0 - ?sz) ?p LIMIT 20""".stripMargin),
        numericVars = Seq("sz"))
    },
    // the variable-target DESCRIBE form (SPARQL 1.1 §16.4, r11):
    // every resource the WHERE pattern binds ?n to is described at
    // once — pattern bindings feed Endpoint.describeAll's two
    // semi-join arms instead of rdf_describe's constant filters
    "sparql_describe_where" -> { (s, dir) =>
      graft.Graft.query(TripleStore.triples(s, dir),
        "DESCRIBE ?n WHERE { ?n a :Nation ; :inRegion reg:2 }")
        .select(col("dir"), col("s"), col("p"), col("o"))
    },
    // multi-target DESCRIBE through the parser (§16.4 VarOrIri+ with
    // no WHERE clause, r12): two constant resources union-described
    // via the semi-join arms
    "sparql_describe_multi" -> { (s, dir) =>
      graft.Graft.query(TripleStore.triples(s, dir), "DESCRIBE nat:1 reg:1")
        .select(col("dir"), col("s"), col("p"), col("o"))
    },
    // mixed constant + variable targets sharing one WHERE pattern
    // (r12): the constant is described unconditionally, the variable
    // contributes its pattern bindings — one deduplicated target set
    "sparql_describe_mixed" -> { (s, dir) =>
      graft.Graft.query(TripleStore.triples(s, dir),
        "DESCRIBE reg:3 ?n WHERE { ?n a :Nation ; :inRegion reg:0 }")
        .select(col("dir"), col("s"), col("p"), col("o"))
    },
    // ORDER BY an aggregate alias (the typed output column drives the
    // sort) with a group-key tie-break and LIMIT
    "sparql_orderby_agg" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?n (COUNT(?c) AS ?cnt) WHERE {
          |  ?c a :Customer . ?c :hasNation ?n .
          |} GROUP BY ?n ORDER BY DESC(?cnt) ASC(?n) LIMIT 10""".stripMargin))
    },
    // nested SELECT subquery: inner aggregation joined with an outer
    // pattern on the shared variable (SPARQL 1.1 §12)
    "sparql_subquery" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?nm ?cnt WHERE {
          |  { SELECT ?n (COUNT(?c) AS ?cnt) WHERE {
          |      ?c a :Customer . ?c :hasNation ?n .
          |    } GROUP BY ?n }
          |  ?n :name ?nm .
          |}""".stripMargin))
    },
    // IN / NOT IN value lists (string, and IRIs through NOT IN)
    "sparql_in_filter" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?m ?n WHERE {
          |  ?c :mktsegment ?m . ?c :hasNation ?n .
          |  FILTER(?m IN ("BUILDING", "AUTOMOBILE"))
          |  FILTER(?n NOT IN (<nat:1>, <nat:2>))
          |}""".stripMargin))
    },
    // NESTED OPTIONAL with a filter scoped to the outer optional
    // group — SPARQL 1.1 §6.1's recursive group grammar end-to-end:
    // two left joins, the inner conditional on the outer's binding
    // (r10)
    "sparql_optional_nested" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?s ?n ?r WHERE {
          |  ?s a :Supplier .
          |  OPTIONAL {
          |    ?s :hasNation ?n .
          |    FILTER(?n IN (<nat:1>, <nat:2>, <nat:3>))
          |    OPTIONAL { ?n :name ?r }
          |  }
          |}""".stripMargin))
    },
    // !BOUND over an OPTIONAL: customers with no pending order (the
    // classic left-join-null idiom; unmatched vars hold the N/A
    // sentinel the reference uses for unmatched OPTIONALs)
    "sparql_bound_filter" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c WHERE {
          |  ?c a :Customer .
          |  OPTIONAL { ?o :byCustomer ?c . ?o :orderstatus "P" }
          |  FILTER(!BOUND(?o))
          |}""".stripMargin))
    },
    // IF conditional + COALESCE over an out-of-scope variable
    "sparql_if_coalesce" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?tier ?fall WHERE {
          |  ?c a :Customer ; :acctbal ?b .
          |  BIND(IF(?b >= 5000, "high", "low") AS ?tier)
          |  BIND(COALESCE(?missing, "none") AS ?fall)
          |}""".stripMargin))
    },
    // negated property set: every supplier edge that is neither
    // acctbal nor rdf:type (name literal + nation IRI remain)
    "sparql_neg_path" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?s ?o WHERE {
          |  ?s a :Supplier .
          |  ?s !(:acctbal|a) ?o .
          |}""".stripMargin))
    },
    // SAMPLE aggregate — deterministic (minimum) group member
    "sparql_sample" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?m (SAMPLE(?c) AS ?rep) WHERE {
          |  ?c :mktsegment ?m .
          |} GROUP BY ?m""".stripMargin))
    },
    // SUBSTR / STRBEFORE / STRAFTER / REPLACE value builtins
    "sparql_str_builtins" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?p ?pre ?bef ?aft ?und WHERE {
          |  ?p a :Part ; :name ?n .
          |  BIND(SUBSTR(?n, 1, 5) AS ?pre)
          |  BIND(STRBEFORE(?n, " ") AS ?bef)
          |  BIND(STRAFTER(?n, " ") AS ?aft)
          |  BIND(REPLACE(?n, " ", "_") AS ?und)
          |}""".stripMargin))
    },
    // SUM DISTINCT: set semantics over the summed values (integer
    // sizes, so the distinct sum is bit-exact under any order)
    "sparql_sum_distinct" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?b (SUM(DISTINCT ?sz) AS ?ds) (COUNT(?sz) AS ?n) WHERE {
          |  ?p :brand ?b .
          |  ?p :size ?sz .
          |} GROUP BY ?b""".stripMargin))
    },
    // aggregates over expressions (SPARQL 1.1 allows any expression
    // inside an aggregate): the sum's addends are integer-valued, so
    // it is bit-exact under any summation order; MAX over a computed
    // double is order-independent by definition (part, not lineitem —
    // lineitem's duplicate quad would collapse under RDF set
    // semantics and break row-count parity with the oracle)
    "sparql_agg_expr" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?b (SUM(?sz * ?sz) AS ?s2)
          |       (MAX(?rp * 2 - ?sz) AS ?mx)
          |       (COUNT(?sz) AS ?n) WHERE {
          |  ?p :brand ?b .
          |  ?p :size ?sz .
          |  ?p :retailprice ?rp .
          |} GROUP BY ?b""".stripMargin))
    },
    // term-type tests: isIRI over an object binding's is-IRI
    // companion, isLiteral over a literal binding, !isBlank over a
    // subject (resource by construction)
    "sparql_term_filters" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?s ?n ?nm WHERE {
          |  ?s :hasNation ?n . ?s :name ?nm .
          |  FILTER(isIRI(?n))
          |  FILTER(isLiteral(?nm))
          |  FILTER(!isBlank(?s))
          |}""".stripMargin))
    },
    // DATATYPE/LANG as value builtins over the hidden companions:
    // lang-tagged → rdf:langString + tag, plain → xsd:string + "",
    // IRI → type error (null)
    "sparql_datatype_lang" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?x ?dtc ?lgc ?dtn ?dtr WHERE {
          |  ?x :comment ?c . ?x :name ?nm . ?x :inRegion ?r .
          |  BIND(DATATYPE(?c) AS ?dtc)
          |  BIND(LANG(?c) AS ?lgc)
          |  BIND(DATATYPE(?nm) AS ?dtn)
          |  BIND(DATATYPE(?r) AS ?dtr)
          |}""".stripMargin))
    },
    // numeric value builtins (XPath fn:numeric-*): ABS/CEIL/FLOOR over
    // negative-capable doubles, ROUND with ties-toward-+∞ semantics
    "sparql_num_builtins" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?ab ?ce ?fl ?rd WHERE {
          |  ?c a :Customer ; :acctbal ?b .
          |  BIND(ABS(?b) AS ?ab)
          |  BIND(CEIL(?b) AS ?ce)
          |  BIND(FLOOR(?b) AS ?fl)
          |  BIND(ROUND(?b) AS ?rd)
          |}""".stripMargin))
    },
    // EXISTS as an OPERAND in a compound filter (W3C ExistsFunc is an
    // ordinary BuiltInCall, r12): the occurrence binds a boolean
    // marker via one distinct-projected flag left-join, composing
    // with the numeric predicate — never a row-at-a-time subquery
    "sparql_exists_expr" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?b WHERE {
          |  ?c a :Customer ; :acctbal ?b .
          |  FILTER(EXISTS { ?o :byCustomer ?c } && ?b < 0)
          |}""".stripMargin), numericVars = Seq("b"))
    },
    // NOT EXISTS over a FULL group body with an inner FILTER (r12 —
    // was BGP-only): customers with no order above 400k; the body's
    // filter applies inside the anti-join side
    "sparql_not_exists_group" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c WHERE {
          |  ?c a :Customer .
          |  FILTER NOT EXISTS { ?o :byCustomer ?c . ?o :totalprice ?tp .
          |                      FILTER(?tp > 400000) }
          |}""".stripMargin))
    },
    // query-final VALUES clause (§18.2.4.2, r12): the data block
    // joins the WHERE solutions after the group closes — desugared to
    // Join(where, data), the same broadcast-side equi-join as in-group
    // VALUES
    "sparql_values_clause" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?m WHERE { ?c :mktsegment ?m }
          |VALUES ?m { "BUILDING" "AUTOMOBILE" }""".stripMargin))
    },
    // COUNT over an OPTIONAL var (§18.5, r12): unbound is removed
    // from the aggregate multiset, so customers with no orders count
    // 0 — the SQL LEFT-JOIN-count shape, never a driver-side loop
    "sparql_count_optional" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c (COUNT(?o) AS ?cnt) WHERE {
          |  ?c a :Customer OPTIONAL { ?o :byCustomer ?c }
          |} GROUP BY ?c""".stripMargin))
    },
    // W3C §6.2 LeftJoin COMPATIBILITY (r12): a solution whose shared
    // var an earlier OPTIONAL left unbound is compatible with any
    // later binding and ADOPTS it; bound-but-different keeps the row
    // without the optional part. Compiles to a mask-split union of
    // plain equi left-joins (2^k for k possibly-unbound shared vars,
    // statically derived) — no null-tolerant theta-join
    "sparql_optional_compat" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?v WHERE {
          |  ?c a :Customer .
          |  OPTIONAL { ?c :mktsegment ?v FILTER(STRSTARTS(?v, "B")) }
          |  OPTIONAL { ?c :name ?v }
          |}""".stripMargin))
    },
    // W3C §6.2 Join COMPATIBILITY (r12): a UNION branch that leaves
    // ?v unbound is compatible with ANY later ?v binding and adopts
    // it; the branch that binds ?v to the mktsegment joins by
    // equality against :name and drops every row. Compiles to the
    // mask-split union of plain equi-joins shared with OPTIONAL —
    // never a null-tolerant theta-join
    "sparql_join_compat" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?v WHERE {
          |  { { ?c :mktsegment ?v } UNION { ?c a :Customer } }
          |  ?c :name ?v
          |}""".stripMargin))
    },
    // W3C §8.3 MINUS COMPATIBILITY (r12): removal compares only the
    // vars bound on BOTH sides. A customer whose OPTIONAL left ?m
    // unbound still has domain overlap on ?c, so an A-segment right
    // solution removes it — sentinel equality would have kept it
    "sparql_minus_compat" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c WHERE {
          |  ?c a :Customer
          |  OPTIONAL { ?c :mktsegment ?m FILTER(STRSTARTS(?m, "B")) }
          |  MINUS { ?c :mktsegment ?m FILTER(STRSTARTS(?m, "A")) }
          |}""".stripMargin))
    },
    // MIN over a STRING-valued variable (r12): the aggregate folds
    // the (numeric, lexical) pair under the engine's ORDER BY total
    // order and outputs the element's lexical form — a string column
    // aggregates lexically instead of over its all-null numeric
    // companion
    "sparql_min_string" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?nat (MIN(?n) AS ?mn) WHERE {
          |  ?c :hasNation ?nat ; :name ?n
          |} GROUP BY ?nat""".stripMargin))
    },
    // blank node property lists (§4.1.4 / grammar [99], r12): each
    // `[ … ]` desugars to a fresh non-distinguished variable plus its
    // rooted triples — the nested form compiles to the same 3-way
    // equi-join chain as the spelled-out BGP, nothing extra shuffles
    "sparql_bnode_proplist" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?n ?b WHERE {
          |  [ a :Customer ; :name ?n ; :acctbal ?b ;
          |    :hasNation [ :inRegion [ :name "ASIA" ] ] ]
          |  FILTER(?b > 4500)
          |}""".stripMargin), numericVars = Seq("b"))
    },
    // Turtle sugar in one pattern (r12): object list (`,` shares the
    // (s, p) pair), single-quoted literal, and a typed-literal FILTER
    // boundary ("4000"^^xsd:decimal compares numerically)
    "sparql_object_list" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?m ?b WHERE {
          |  ?c a :Customer ; :mktsegment 'BUILDING' , ?m ; :acctbal ?b .
          |  FILTER(?b >= "4000"^^xsd:decimal)
          |}""".stripMargin), numericVars = Seq("b"))
    },
    // lang-tagged literal as a pattern OBJECT (r12): "lex"@tag is a
    // distinct term — it matches only the same (lexical, tag) pair,
    // and the plain "lex" matches nothing here (strict RDF 1.1
    // term equality, pinned by the conformance suite)
    "sparql_lang_literal_match" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?n ?r WHERE {
          |  ?n :comment "NATION_2 comment"@en ; :inRegion ?r }""".stripMargin))
    },
    // VALUES with UNDEF (§10.2.2): rows join by COMPATIBILITY — an
    // unbound cell constrains nothing — via mask-grouped equi-joins
    // unioned back (never a null-tolerant theta-join on the big
    // side); three masks exercise one-sided, other-sided, and
    // fully-bound rows (r12)
    "sparql_values_undef" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?x ?n WHERE {
          |  ?x a :Nation ; :name ?n .
          |  VALUES (?x ?n) { (nat:1 UNDEF) (UNDEF "NATION_7")
          |                   (nat:3 "NATION_3") }
          |}""".stripMargin))
    },
    // W3C §17.4.5 date/time component accessors (YEAR/MONTH/DAY/
    // HOURS) over the orderdate literal's lexical form — the largest
    // W3C function family still missing after r11 (VERDICT #1)
    "sparql_datetime_builtins" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?o ?y ?mo ?dy ?hh WHERE {
          |  ?o a :Order ; :orderdate ?d .
          |  BIND(YEAR(?d) AS ?y)
          |  BIND(MONTH(?d) AS ?mo)
          |  BIND(DAY(?d) AS ?dy)
          |  BIND(HOURS(?d) AS ?hh)
          |}""".stripMargin))
    },
    // the accessors composing with FILTER and GROUP BY: monthly order
    // counts of one year — YEAR prunes in the filter, MONTH is the
    // grouping key
    "sparql_datetime_groupby" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?mo (COUNT(?o) AS ?n) WHERE {
          |  ?o a :Order ; :orderdate ?d .
          |  FILTER(YEAR(?d) = 1996)
          |  BIND(MONTH(?d) AS ?mo)
          |} GROUP BY ?mo""".stripMargin))
    },
    // TZ/TIMEZONE (§17.4.5.7-8) over dateTime lexicals with explicit
    // zones (IF-fanned constants keyed on acctbal so Z, negative, and
    // fractional-hour zones all appear) plus the zoneless case:
    // TZ → "", TIMEZONE → type error (null binding)
    "sparql_tz_builtins" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?tz ?dur ?tz0 WHERE {
          |  ?c a :Customer ; :acctbal ?b .
          |  BIND(IF(?b < 0, "2010-06-21T11:28:01Z",
          |       IF(?b < 5000, "2010-06-21T11:28:01-08:00",
          |                     "2010-06-21T11:28:01+05:30")) AS ?d)
          |  BIND(TZ(?d) AS ?tz)
          |  BIND(TIMEZONE(?d) AS ?dur)
          |  BIND(TZ("2011-01-10T14:45:13.815") AS ?tz0)
          |}""".stripMargin))
    },
    // hash value builtins: lowercase hex digests, codegen'd natively
    // in both engines
    "sparql_hash_builtins" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?n ?h ?h2 WHERE {
          |  ?x a :Nation ; :name ?n .
          |  BIND(MD5(?n) AS ?h)
          |  BIND(SHA256(?n) AS ?h2)
          |}""".stripMargin))
    },
    // the full W3C §17.4.4.4-8 hash family over fixed VALUES inputs;
    // DuckDB lacks SHA1/SHA384/SHA512, so the oracle carries
    // hashlib-computed constants — data-independent by construction
    "sparql_hash_family" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?n ?hm ?h1 ?h2 ?h3 ?h5 WHERE {
          |  VALUES ?n { "abc" "SPARQL" }
          |  BIND(MD5(?n) AS ?hm)
          |  BIND(SHA1(?n) AS ?h1)
          |  BIND(SHA256(?n) AS ?h2)
          |  BIND(SHA384(?n) AS ?h3)
          |  BIND(SHA512(?n) AS ?h5)
          |}""".stripMargin))
    },
    // typed xsd:dateTime comparison (r13): FILTER and ORDER BY over
    // date-shaped bindings compare on the TIMELINE — zone offsets
    // normalize to UTC — not on the lexical string. The mixed-zone
    // VALUES make string semantics give a DIFFERENT filter set and
    // LIMIT cut ("2019-12-31T23:59:59-11:00" is lexically smallest
    // but its instant 10:59:59Z ranks third), so the oracle's
    // TIMESTAMPTZ casts only agree with instant semantics
    "sparql_datetime_compare" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?t WHERE {
          |  VALUES ?t { "2020-01-01T12:00:00+02:00" "2020-01-01T10:30:00Z"
          |              "2020-01-01T09:00:00-05:00" "2019-12-31T23:59:59-11:00" }
          |  FILTER(?t < "2020-01-01T13:00:00Z")
          |} ORDER BY ?t LIMIT 2""".stripMargin))
    },
    // MIN/MAX over xsd:dateTime bindings fold on the INSTANT (r14):
    // the aggregate's lexical leg keys on dtSortKey, so the earliest/
    // latest element by timeline wins and its ORIGINAL lexical comes
    // back. The fixtures are chosen so lexical and instant answers
    // FLIP: "+09:00" is lexically largest but the earliest instant
    // (03:00Z), "-01:00" lexically smallest but the latest (08:30Z)
    "sparql_datetime_minmax" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT (MIN(?t) AS ?earliest) (MAX(?t) AS ?latest) WHERE {
          |  VALUES ?t { "2020-01-01T12:00:00+09:00" "2020-01-01T08:00:00Z"
          |              "2020-01-01T07:30:00-01:00" }
          |}""".stripMargin))
    },
    // ORDER BY over a computed expression (hidden BIND + dropped sort
    // column); the ASC(?p) tie-break keeps the LIMIT cut deterministic
    "sparql_orderby_expr" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?p ?sz ?rp WHERE {
          |  ?p :size ?sz ; :retailprice ?rp .
          |} ORDER BY DESC(?rp - ?sz * 10) ASC(?p) LIMIT 20""".stripMargin),
        numericVars = Seq("sz", "rp"))
    },
    // fixed-range repetition path {n,m}: bounded hops, no closure
    "sparql_path_range" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        "SELECT ?y WHERE { <cust:7> (:hasNation|:inRegion){1,2} ?y }"))
    },
    // named-graph management (SPARQL Update §3.2): COPY the nation
    // graph over the supplier graph, ADD regions into it, CLEAR the
    // region graph; per-graph counts prove each form
    "sparql_graph_mgmt" -> { (s, dir) =>
      // textual §3.2 management forms end to end: COPY replaces the
      // supplier graph, ADD unions region in, CLEAR drops the source
      val q0 = namedGraphQuads(s, dir)
      val q1 = graft.Graft.updateQuads(q0, "COPY GRAPH g:nation TO g:supp")
      val q2 = graft.Graft.updateQuads(q1, "ADD g:region TO g:supp")
      val q3 = graft.Graft.updateQuads(q2, "CLEAR GRAPH g:region")
      q3.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    },
    // SPARQL Update pipeline: INSERT DATA adds a ground nation, then
    // DELETE WHERE pattern-drops every :comment triple; the nation
    // slice's per-predicate counts prove both took effect
    "sparql_update" -> { (s, dir) =>
      val store = graft.rdf.TripleStore.dimensionTriples(s, dir)
      val inserted = graft.Graft.update(store,
        """INSERT DATA { <nat:999> rdf:type :Nation .
          |              <nat:999> :name "ATLANTIS" . }""".stripMargin)
      val updated = graft.Graft.update(inserted,
        "DELETE WHERE { ?n :comment ?c . }")
      updated.filter(col("s").startsWith("nat:"))
        .groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    },
    // template modify: rename the B-segment membership property in
    // one DELETE/INSERT WHERE pass
    "sparql_update_modify" -> { (s, dir) =>
      val store = graft.rdf.TripleStore.dimensionTriples(s, dir)
      val updated = graft.Graft.update(store,
        """DELETE { ?c :mktsegment ?m }
          |INSERT { ?c :segment ?m }
          |WHERE { ?c :mktsegment ?m . FILTER(STRSTARTS(?m, "B")) }""".stripMargin)
      updated.filter(col("p").isin(":mktsegment", ":segment"))
        .groupBy(col("p"), col("o")).agg(count(lit(1)).as("cnt"))
    },
    // SPARQL Update §3.1.31 LOAD: ingest-by-query through the
    // format-dispatching parser facade (format from the extension).
    // The key writes a 3-line N-Triples document, LOADs its file:
    // URL over the dimension store, then proves SILENT swallows a
    // missing source; the loaded slice's per-predicate counts are
    // data-independent constants. The lazy LOAD frame reads the file
    // after the key returns, so its deletion waits for the release
    "sparql_update_load" -> { (s, dir) =>
      val store = graft.rdf.TripleStore.dimensionTriples(s, dir)
      val f = graft.Checkpoints.track(
        java.nio.file.Files.createTempFile("graft_load_", ".nt"))(
        (p, _) => java.nio.file.Files.deleteIfExists(p))
      java.nio.file.Files.write(f,
        ("<nat:901> <rdf:type> <:Nation> .\n" +
          "<nat:901> <:name> \"LEMURIA\" .\n" +
          "<nat:902> <:name> \"MU\" .\n").getBytes("UTF-8"))
      val loaded = graft.Graft.update(store, "LOAD <file://" + f + ">")
      val after = graft.Graft.update(loaded,
        "LOAD SILENT <file:///nonexistent/graft_missing.nt>")
      after.filter(col("s").isin("nat:901", "nat:902"))
        .groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    },
    // WITH / USING on the template modify (SPARQL Update §3.1.3):
    // first a WITH-scoped rename inside one named graph (other graphs
    // untouched), then a USING modify whose WHERE reads a DIFFERENT
    // graph than the WITH target writes — per-graph per-predicate
    // counts prove both scopes
    "sparql_update_with" -> { (s, dir) =>
      val q0 = namedGraphQuads(s, dir)
      val q1 = graft.Graft.updateQuads(q0,
        """WITH <g:nation>
          |DELETE { ?s :name ?n } INSERT { ?s :label ?n }
          |WHERE { ?s :name ?n . FILTER(STRSTARTS(?n, "NATION_1")) }""".stripMargin)
      val q2 = graft.Graft.updateQuads(q1,
        """WITH <g:nation> INSERT { ?s :regName ?n }
          |USING <g:region> WHERE { ?s :name ?n }""".stripMargin)
      q2.groupBy(col("g"), col("p")).agg(count(lit(1)).as("cnt"))
    },
    // VALUES inside an UPDATE's WHERE: the inline constant table
    // drives which bindings the templates instantiate
    "sparql_update_values" -> { (s, dir) =>
      val store = graft.rdf.TripleStore.dimensionTriples(s, dir)
      val updated = graft.Graft.update(store,
        """DELETE { ?c :mktsegment ?m }
          |INSERT { ?c :segment ?m }
          |WHERE { ?c :mktsegment ?m .
          |        VALUES ?m { "BUILDING" "MACHINERY" } }""".stripMargin)
      updated.filter(col("p").isin(":mktsegment", ":segment"))
        .groupBy(col("p"), col("o")).agg(count(lit(1)).as("cnt"))
    },
    // var-var FILTER comparison (numeric through the companions):
    // same-nation customer/supplier pairs where the customer balance
    // exceeds the supplier's
    "sparql_cmp_vars" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?c ?s ?cb ?sb WHERE {
          |  ?c a :Customer ; :acctbal ?cb ; :hasNation ?n .
          |  ?s a :Supplier ; :acctbal ?sb ; :hasNation ?n .
          |  FILTER(?cb > ?sb)
          |}""".stripMargin), numericVars = Seq("cb", "sb"))
    },
    // IRI minting + isNumeric: a minted term passes isIRI, numeric
    // bindings pass isNumeric (both filters are pass-through on this
    // data — the point is they compile and evaluate typed)
    "sparql_iri_isnumeric" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """SELECT ?p ?minted ?sz WHERE {
          |  ?p :size ?sz . FILTER(isNumeric(?sz))
          |  BIND(IRI(CONCAT("resized:", STR(?p))) AS ?minted)
          |  FILTER(isIRI(?minted))
          |}""".stripMargin), numericVars = Seq("sz"))
    },
    // GRAPH with a constant name: the pattern prunes to one named
    // graph's slice of the quad dataset
    "sparql_graph_const" -> { (s, dir) =>
      Compiler.runQuads(namedGraphQuads(s, dir), SparqlParser.parse(
        "SELECT ?s ?n WHERE { GRAPH <g:region> { ?s :name ?n } }"))
    },
    // GRAPH with a variable: the graph name binds per solution, and a
    // default-graph pattern joins across it
    "sparql_graph_var" -> { (s, dir) =>
      Compiler.runQuads(namedGraphQuads(s, dir), SparqlParser.parse(
        "SELECT ?g ?s ?n WHERE { GRAPH ?g { ?s :name ?n } }"))
    },
    // GRAPH with a variable over a GENERAL group body (r15): the
    // graph column threads through the OPTIONAL's compat join, so the
    // optional match must come from the SAME graph as its subject's
    // name — one relational pass, no per-graph loop
    "sparql_graph_var_group" -> { (s, dir) =>
      val t = TripleStore.dimensionTriples(s, dir)
      val cust = t.filter(col("s").startsWith("cust:") &&
          col("p").isin(":name", ":mktsegment"))
        .withColumn("g", org.apache.spark.sql.functions.lit("g:cust"))
      val nat = t.filter(col("s").startsWith("nat:") && col("p") === ":name")
        .withColumn("g", org.apache.spark.sql.functions.lit("g:nation"))
      Compiler.runQuads(
        cust.unionAll(nat).select(col("g"), col("s"), col("p"), col("o"),
          col("o_num"), col("o_is_iri"), col("lang")),
        SparqlParser.parse(
          """SELECT ?g ?s ?n ?m WHERE { GRAPH ?g {
            |  ?s :name ?n OPTIONAL { ?s :mktsegment ?m FILTER(?m != "BUILDING") }
            |} }""".stripMargin))
    },
    // property path under a VARIABLE graph (r16): the closure runs
    // ONE pass over graph-encoded node ids — per-graph reachability
    // with no per-named-graph plan loop. The fixture splits the
    // supp→nat and nat→reg hops into separate graphs (so a closure
    // that leaked across graphs would wrongly emit 2-hop pairs there)
    // plus one graph holding both (where the 2-hop pairs are real).
    "sparql_graph_var_path" -> { (s, dir) =>
      val t = TripleStore.dimensionTriples(s, dir)
      val sn = t.filter(col("s").startsWith("supp:") &&
        col("p") === ":hasNation")
      val nr = t.filter(col("p") === ":inRegion")
      def tag(df: org.apache.spark.sql.DataFrame, name: String) =
        df.withColumn("g", org.apache.spark.sql.functions.lit(name))
      Compiler.runQuads(
        tag(sn, "g:sn").unionAll(tag(nr, "g:nr"))
          .unionAll(tag(sn, "g:both")).unionAll(tag(nr, "g:both"))
          .select(col("g"), col("s"), col("p"), col("o"),
            col("o_num"), col("o_is_iri"), col("lang")),
        SparqlParser.parse(
          "SELECT ?g ?s ?r WHERE { GRAPH ?g { ?s (:hasNation|:inRegion)+ ?r } }"))
    },
    // Dataset clause (§13.2, r17): FROM composes the default graph,
    // FROM NAMED bounds what GRAPH may match — both REPLACE the
    // store's dataset. The fixture plants a decoy default-graph
    // candidate (g:decoy, region edges rotated one key) and a decoy
    // named-graph candidate (g:region2, region names suffixed), so a
    // dataset clause that failed to restrict EITHER axis changes the
    // answer — rotated pairs from g:decoy, suffixed names from
    // g:region2 — instead of passing by accident
    "sparql_from_named" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{concat, lit, substring}
      val t = TripleStore.dimensionTriples(s, dir)
      def tag(df: org.apache.spark.sql.DataFrame, g: String) =
        df.withColumn("g", lit(g))
      val natSlice = t.filter(col("s").startsWith("nat:") &&
        col("p").isin(":name", ":inRegion"))
      val regNames = t.filter(col("s").startsWith("reg:") &&
        col("p") === ":name")
      val decoyEdges = natSlice.filter(col("p") === ":inRegion")
        .withColumn("o", concat(lit("reg:"),
          ((substring(col("o"), 5, 10).cast("int") + 1) % 5).cast("string")))
      val decoyNames = regNames.withColumn("o", concat(col("o"), lit("_X")))
      Compiler.runQuads(
        tag(natSlice, "g:nation").unionAll(tag(decoyEdges, "g:decoy"))
          .unionAll(tag(regNames, "g:region"))
          .unionAll(tag(decoyNames, "g:region2"))
          .select(col("g"), col("s"), col("p"), col("o"),
            col("o_num"), col("o_is_iri"), col("lang")),
        SparqlParser.parse(
          """SELECT ?g ?s ?n ?rn
            |FROM <g:nation>
            |FROM NAMED <g:region>
            |WHERE { ?s :name ?n . ?s :inRegion ?r .
            |        GRAPH ?g { ?r :name ?rn } }""".stripMargin))
    },
    // QuadData (grammar [48]/[49], r15): GRAPH-scoped blocks inside
    // INSERT DATA / DELETE DATA — insert into an existing and a NEW
    // graph, then delete one ground quad from a third; only the
    // touched slices change
    "sparql_update_quad_data" -> { (s, dir) =>
      val q0 = namedGraphQuads(s, dir)
      val q1 = graft.Graft.updateQuads(q0,
        """INSERT DATA { GRAPH <g:nation> { <extra:1> :name "EXTRA_ONE" }
          |              GRAPH <g:new> { <extra:2> :name "EXTRA_TWO" } }""".stripMargin)
      val q2 = graft.Graft.updateQuads(q1,
        """DELETE DATA { GRAPH <g:region> { <reg:0> :name "AFRICA" } }""")
      q2.filter(col("p") === ":name").select(col("g"), col("s"), col("o"))
    },
    // PREFIX declarations: prefixed names expand to the declared
    // namespace before compilation (two prefixes, both resolved)
    "sparql_prefix_decl" -> { (s, dir) =>
      run(s, dir, SparqlParser.parse(
        """PREFIX t: <:>
          |PREFIX typ: <rdf:>
          |SELECT ?c ?b WHERE {
          |  ?c typ:type t:Customer .
          |  ?c t:acctbal ?b .
          |  FILTER(?b >= 5000)
          |}""".stripMargin), numericVars = Seq("b"))
    },
  )

  private val STAR_BGP_ORACLE =
    """SELECT 'cust:'||c_custkey AS c, c_name AS n, c_mktsegment AS m,
      |       c_acctbal AS b FROM customer""".stripMargin

  val oracle: Map[String, String] = Map(
    "sparql_bgp_star" -> STAR_BGP_ORACLE,
    "sparql_bgp_star_bucketed" -> STAR_BGP_ORACLE,
    "sparql_bgp_chain" ->
      """SELECT DISTINCT 'line:'||l_orderkey||'_'||l_linenumber||'_'||l_partkey||'_'||l_suppkey AS l, r_name AS rn,
        |       l_quantity AS q
        |FROM lineitem, orders, customer, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND l_quantity > 45""".stripMargin,
    "sparql_filter_compare" ->
      """SELECT 'part:'||p_partkey AS p, CAST(p_size AS DOUBLE) AS sz,
        |       p_brand AS b, p_retailprice AS rp
        |FROM part
        |WHERE p_size >= 40 AND p_size <= 48 AND p_retailprice > 900
        |  AND p_retailprice < 1500 AND p_brand != 'Brand#33'
        |  AND p_type = 'ECONOMY'""".stripMargin,
    "sparql_filter_logic" ->
      """SELECT 'cust:'||c_custkey AS c, c_acctbal AS b, c_mktsegment AS m
        |FROM customer
        |WHERE (c_acctbal > 9000 AND c_mktsegment = 'BUILDING')
        |   OR c_acctbal < -900""".stripMargin,
    "sparql_optional" ->
      """SELECT DISTINCT 'cust:'||c_custkey AS c,
        |       coalesce(o_orderpriority, 'N/A') AS pr
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey""".stripMargin,
    "sparql_optional_filter" ->
      """SELECT DISTINCT 'cust:'||c_custkey AS c,
        |       coalesce(o_orderpriority, 'N/A') AS pr
        |FROM customer LEFT JOIN orders
        |  ON o_custkey = c_custkey AND o_orderpriority = '1-URGENT'""".stripMargin,
    // the outer-var condition: the LEFT JOIN's ON clause reads the
    // CUSTOMER side — exactly the §8.1.1 LeftJoin(P1, P2, F) algebra
    "sparql_optional_join_filter" ->
      """SELECT DISTINCT 'cust:'||c_custkey AS c,
        |       coalesce(o_orderpriority, 'N/A') AS pr
        |FROM customer LEFT JOIN orders
        |  ON o_custkey = c_custkey AND c_acctbal > 5000""".stripMargin,
    "sparql_union" ->
      """SELECT 'nat:'||n_nationkey AS x, n_name AS nm FROM nation
        |UNION ALL
        |SELECT 'reg:'||r_regionkey AS x, r_name AS nm FROM region""".stripMargin,
    "sparql_distinct" ->
      "SELECT DISTINCT c_mktsegment AS m FROM customer",
    "sparql_orderby_limit" ->
      """SELECT 'cust:'||c_custkey AS c, c_acctbal AS b FROM customer
        |ORDER BY b DESC, c ASC LIMIT 15 OFFSET 5""".stripMargin,
    "sparql_groupby_count" ->
      "SELECT c_mktsegment AS m, count(*) AS cnt FROM customer GROUP BY 1",
    "sparql_count_distinct" ->
      """SELECT p_brand AS b, count(DISTINCT p_type) AS n_types
        |FROM part GROUP BY 1""".stripMargin,
    "sparql_groupby_max" ->
      """SELECT 'nat:'||c_nationkey AS n, max(c_acctbal) AS mx
        |FROM customer GROUP BY 1""".stripMargin,
    "sparql_exists" ->
      """SELECT 'cust:'||c_custkey AS c FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "sparql_not_exists" ->
      """SELECT 'cust:'||c_custkey AS c FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin,
    "sparql_groupby_sum_avg" ->
      """SELECT 'cust:'||o_custkey AS c, round(sum(o_totalprice), 2) AS total,
        |       min(o_totalprice) AS mn, count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,
    "sparql_groupby_avg_rational" ->
      """SELECT 'cust:'||o_custkey AS c,
        |       round(avg(o_totalprice) * count(*), 2) AS av_times_cnt,
        |       round(sum(o_totalprice), 2) AS sm, count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,
    "sparql_path_plus" ->
      """WITH RECURSIVE e(s, o) AS (
        |  SELECT 'cust:'||c_custkey, 'nat:'||c_nationkey FROM customer
        |  UNION ALL SELECT 'supp:'||s_suppkey, 'nat:'||s_nationkey FROM supplier
        |  UNION ALL SELECT 'nat:'||n_nationkey, 'reg:'||n_regionkey FROM nation),
        |c(x, y) AS (
        |  SELECT s, o FROM e
        |  UNION
        |  SELECT c.x, e.o FROM c JOIN e ON c.y = e.s)
        |SELECT x, y FROM c""".stripMargin,
    "sparql_parser_e2e" ->
      """SELECT 'cust:'||c_custkey AS c, c_acctbal AS b, c_mktsegment AS m
        |FROM customer
        |WHERE c_acctbal >= 9000 AND c_mktsegment != 'MACHINERY'
        |ORDER BY b DESC, c ASC LIMIT 25""".stripMargin,
    "sparql_values" ->
      """SELECT 'cust:'||c_custkey AS c, c_mktsegment AS m
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')""".stripMargin,
    "sparql_group_concat" ->
      """SELECT 'reg:'||n_regionkey AS r,
        |       string_agg(n_name, '|' ORDER BY n_name) AS names
        |FROM nation GROUP BY 1""".stripMargin,
    "sparql_group_concat_distinct" ->
      """SELECT 'nat:'||c_nationkey AS n,
        |       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
        |FROM customer GROUP BY 1""".stripMargin,
    // nation names are uppercase ASCII + spaces: the space is the only
    // character the builtin escapes on this data
    "sparql_encode_uri" ->
      """SELECT 'nat:'||n_nationkey AS x, replace(n_name, ' ', '%20') AS e
        |FROM nation""".stripMargin,
    "sparql_lang_filter" ->
      """SELECT 'nat:'||n_nationkey AS n, n_name||' comment' AS c
        |FROM nation WHERE n_nationkey % 2 = 0""".stripMargin,
    // odd nation keys carry the @fr tag (RdfModel's comment minting)
    "sparql_langmatches" ->
      """SELECT 'nat:'||n_nationkey AS n, n_name||' comment' AS c
        |FROM nation WHERE n_nationkey % 2 = 1""".stripMargin,
    "sparql_strlang_strdt" ->
      """SELECT 'nat:'||n_nationkey AS x, n_name AS t,
        |       CAST(n_nationkey AS VARCHAR) AS k
        |FROM nation WHERE n_nationkey >= 10""".stripMargin,
    "sparql_ask" ->
      """SELECT EXISTS(SELECT 1 FROM customer WHERE c_acctbal >= 0) AS ask_pos,
        |       EXISTS(SELECT 1 FROM customer
        |              WHERE c_mktsegment = 'NO_SUCH_SEGMENT') AS ask_neg""".stripMargin,
    "sparql_construct" ->
      """SELECT 'cust:'||c_custkey AS s, ':inSegment' AS p, c_mktsegment AS o
        |FROM customer
        |UNION ALL
        |SELECT 'cust:'||c_custkey, 'rdf:type', ':Client' FROM customer""".stripMargin,
    "sparql_construct_where" ->
      """SELECT 'supp:'||s_suppkey AS s, 'rdf:type' AS p, ':Supplier' AS o
        |FROM supplier
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey
        |FROM supplier""".stripMargin,
    "sparql_construct_ntriples" ->
      """SELECT '<cust:'||c_custkey||'> <:inSegment> "'||c_mktsegment||'" .'
        |  AS line FROM customer
        |UNION ALL
        |SELECT '<cust:'||c_custkey||'> <rdf:type> <:Client> .' FROM customer""".stripMargin,
    // the ?q field carries a comma and a quote, so it serializes
    // RFC-4180-quoted with the inner quotes doubled; c and m pass
    // through bare
    "sparql_results_csv" ->
      """SELECT 'cust:'||c_custkey||','||c_mktsegment
        |  ||',"'||c_mktsegment||',""x""'||'"' AS line
        |FROM customer""".stripMargin,
    "sparql_results_tsv" ->
      """WITH r AS (SELECT 'cust:'||c_custkey AS c, c_mktsegment AS m,
        |                  c_mktsegment || chr(9) || 'a\b' AS q FROM customer)
        |SELECT c || chr(9) || m || chr(9) ||
        |  replace(replace(q, '\', '\\'), chr(9), '\t') AS line
        |FROM r""".stripMargin,
    "sparql_results_json" ->
      """WITH r AS (SELECT 'cust:'||c_custkey AS c, c_mktsegment AS m,
        |                  c_mktsegment||',"x"' AS q FROM customer)
        |SELECT '{"c":"'||replace(replace(c, '\', '\\'), '"', '\"')
        |  ||'","m":"'||replace(replace(m, '\', '\\'), '"', '\"')
        |  ||'","q":"'||replace(replace(q, '\', '\\'), '"', '\"')||'"}'
        |  AS line
        |FROM r""".stripMargin,
    // unmatched OPTIONAL vars carry the engine's "N/A" sentinel (the
    // reference's fill — see sparql_optional)
    "sparql_optional_nested" ->
      """SELECT 'supp:'||s_suppkey AS s,
        |  CASE WHEN s_nationkey IN (1, 2, 3)
        |    THEN 'nat:'||s_nationkey ELSE 'N/A' END AS n,
        |  CASE WHEN s_nationkey IN (1, 2, 3) THEN n_name
        |    ELSE 'N/A' END AS r
        |FROM supplier LEFT JOIN nation
        |  ON s_nationkey = n_nationkey AND s_nationkey IN (1, 2, 3)""".stripMargin,
    "sparql_results_xml" ->
      """WITH r AS (SELECT 'cust:'||c_custkey AS c, c_mktsegment AS m,
        |                  c_mktsegment||'<&>' AS q FROM customer)
        |SELECT '<result><binding name="c"><literal>'||c
        |  ||'</literal></binding><binding name="m"><literal>'||m
        |  ||'</literal></binding><binding name="q"><literal>'
        |  ||replace(replace(replace(q, '&', '&amp;'), '<', '&lt;'),
        |            '>', '&gt;')
        |  ||'</literal></binding></result>' AS line
        |FROM r""".stripMargin,
    "sparql_path_seq" ->
      """SELECT 'cust:'||c_custkey AS c, r_name AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    // one UNION ALL branch per alternation choice (bag semantics):
    // forward :inRegion, then ^:hasNation back to customers and to
    // suppliers (supplier self-pairs included — the path revisits)
    "sparql_path_alt_in_seq" ->
      """SELECT 'supp:'||s_suppkey AS x, 'reg:'||n_regionkey AS y
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, 'cust:'||c_custkey
        |FROM supplier JOIN customer ON s_nationkey = c_nationkey
        |UNION ALL
        |SELECT 'supp:'||s1.s_suppkey, 'supp:'||s2.s_suppkey
        |FROM supplier s1 JOIN supplier s2 ON s1.s_nationkey = s2.s_nationkey""".stripMargin,
    // (:inRegion/^:inRegion)+ = the same-region equivalence over
    // nations — transitively closed after a single composition, so
    // plain SQL (no recursion) IS the fixpoint
    "sparql_path_seq_plus" ->
      """SELECT 'nat:'||a.n_nationkey AS x, 'nat:'||b.n_nationkey AS y
        |FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey""".stripMargin,
    "sparql_path_seq_range" ->
      """SELECT 'cust:'||c_custkey AS x, 'reg:'||n_regionkey AS y
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |UNION
        |SELECT 'supp:'||s_suppkey, 'reg:'||n_regionkey
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin,
    // {2,} over the alternation edge set: ≥2 hops exist only as
    // entity→nation→region (regions have no outgoing edge), so the
    // answer is the two-hop join
    "sparql_path_range_min" ->
      """SELECT 'cust:'||c_custkey AS x, 'reg:'||n_regionkey AS y
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |UNION
        |SELECT 'supp:'||s_suppkey, 'reg:'||n_regionkey
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin,
    "sparql_path_inverse" ->
      """SELECT 'reg:'||r_regionkey AS r, 'supp:'||s_suppkey AS s
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "sparql_minus" ->
      """SELECT 'cust:'||c_custkey AS c, c_mktsegment AS m
        |FROM customer WHERE c_nationkey != 3""".stripMargin,
    "sparql_bind" ->
      """SELECT 'ord:'||o_orderkey AS o, upper('cust:'||o_custkey) AS cu,
        |       o_totalprice * 0.9 AS disc
        |FROM orders WHERE o_totalprice * 0.9 > 150000""".stripMargin,
    "sparql_str_filters" ->
      """SELECT 'part:'||p_partkey AS p, p_name AS n, p_type AS t
        |FROM part
        |WHERE (regexp_matches(p_name, '^(red|blue) ')
        |       OR contains(p_name, 'gear'))
        |  AND (starts_with(p_type, 'PROMO') OR p_name LIKE '%t')""".stripMargin,
    "sparql_path_star" ->
      """SELECT 'cust:7' AS y
        |UNION ALL
        |SELECT 'nat:'||c_nationkey FROM customer WHERE c_custkey = 7
        |UNION ALL
        |SELECT 'reg:'||n_regionkey
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey = 7""".stripMargin,
    "sparql_path_zeroone" ->
      """SELECT 'cust:'||c_custkey AS c, 'cust:'||c_custkey AS y FROM customer
        |UNION ALL
        |SELECT 'cust:'||c_custkey, 'nat:'||c_nationkey FROM customer""".stripMargin,
    "sparql_path_alt" ->
      """SELECT 'cust:'||c_custkey AS a, 'nat:'||c_nationkey AS b FROM customer
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, 'nat:'||s_nationkey FROM supplier
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, 'reg:'||n_regionkey FROM nation""".stripMargin,
    "sparql_prefix_decl" ->
      """SELECT 'cust:'||c_custkey AS c, c_acctbal AS b
        |FROM customer WHERE c_acctbal >= 5000""".stripMargin,
    "sparql_iri_isnumeric" ->
      """SELECT 'part:'||p_partkey AS p, 'resized:part:'||p_partkey AS minted,
        |       CAST(p_size AS DOUBLE) AS sz FROM part""".stripMargin,
    "sparql_graph_mgmt" ->
      """SELECT 'g:nation' AS g, count(*) AS cnt FROM nation
        |UNION ALL
        |SELECT 'g:supp',
        |  (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)""".stripMargin,
    "sparql_update_modify" ->
      """SELECT CASE WHEN c_mktsegment LIKE 'B%' THEN ':segment'
        |            ELSE ':mktsegment' END AS p,
        |       c_mktsegment AS o, count(*) AS cnt
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "sparql_update_with" ->
      """SELECT 'g:nation' AS g, ':name' AS p, count(*) AS cnt
        |FROM nation WHERE substr(n_name, 1, 8) <> 'NATION_1'
        |UNION ALL SELECT 'g:nation', ':label', count(*)
        |FROM nation WHERE substr(n_name, 1, 8) = 'NATION_1'
        |UNION ALL SELECT 'g:nation', ':regName', count(*) FROM region
        |UNION ALL SELECT 'g:region', ':name', count(*) FROM region
        |UNION ALL SELECT 'g:supp', ':name', count(*) FROM supplier""".stripMargin,
    "sparql_update_values" ->
      """SELECT CASE WHEN c_mktsegment IN ('BUILDING','MACHINERY')
        |            THEN ':segment' ELSE ':mktsegment' END AS p,
        |       c_mktsegment AS o, count(*) AS cnt
        |FROM customer GROUP BY 1, 2""".stripMargin,
    // the LOAD key's result is data-independent by construction: the
    // loaded document is written by the key itself
    "sparql_update_load" ->
      """SELECT p, CAST(cnt AS BIGINT) AS cnt FROM (VALUES
        |  ('rdf:type', 1), (':name', 2)) AS t(p, cnt)""".stripMargin,
    "sparql_update" ->
      """SELECT 'rdf:type' AS p, count(*) + 1 AS cnt FROM nation
        |UNION ALL SELECT ':name', count(*) + 1 FROM nation
        |UNION ALL SELECT ':inRegion', count(*) FROM nation""".stripMargin,
    "sparql_cmp_vars" ->
      """SELECT 'cust:'||c_custkey AS c, 'supp:'||s_suppkey AS s,
        |       c_acctbal AS cb, s_acctbal AS sb
        |FROM customer JOIN supplier ON c_nationkey = s_nationkey
        |WHERE c_acctbal > s_acctbal""".stripMargin,
    "sparql_graph_const" ->
      "SELECT 'reg:'||r_regionkey AS s, r_name AS n FROM region",
    "sparql_graph_var" ->
      """SELECT 'g:nation' AS g, 'nat:'||n_nationkey AS s, n_name AS n FROM nation
        |UNION ALL
        |SELECT 'g:region', 'reg:'||r_regionkey, r_name FROM region
        |UNION ALL
        |SELECT 'g:supp', 'supp:'||s_suppkey, s_name FROM supplier""".stripMargin,
    "sparql_from_named" ->
      """SELECT 'g:region' AS g, 'nat:'||n_nationkey AS s, n_name AS n,
        |       r_name AS rn
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "sparql_update_quad_data" ->
      """SELECT 'g:nation' AS g, 'nat:'||n_nationkey AS s, n_name AS o FROM nation
        |UNION ALL SELECT 'g:nation', 'extra:1', 'EXTRA_ONE'
        |UNION ALL SELECT 'g:new', 'extra:2', 'EXTRA_TWO'
        |UNION ALL SELECT 'g:region', 'reg:'||r_regionkey, r_name
        |  FROM region WHERE r_regionkey <> 0
        |UNION ALL SELECT 'g:supp', 'supp:'||s_suppkey, s_name FROM supplier""".stripMargin,
    "sparql_graph_var_path" ->
      """SELECT 'g:sn' AS g, 'supp:'||s_suppkey AS s, 'nat:'||s_nationkey AS r
        |FROM supplier
        |UNION ALL
        |SELECT 'g:nr', 'nat:'||n_nationkey, 'reg:'||n_regionkey FROM nation
        |UNION ALL
        |SELECT 'g:both', 'supp:'||s_suppkey, 'nat:'||s_nationkey FROM supplier
        |UNION ALL
        |SELECT 'g:both', 'nat:'||n_nationkey, 'reg:'||n_regionkey FROM nation
        |UNION ALL
        |SELECT 'g:both', 'supp:'||s_suppkey, 'reg:'||n_regionkey
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin,
    "sparql_graph_var_group" ->
      """SELECT 'g:cust' AS g, 'cust:'||c_custkey AS s, c_name AS n,
        |  coalesce(CASE WHEN c_mktsegment <> 'BUILDING' THEN c_mktsegment END,
        |           'N/A') AS m
        |FROM customer
        |UNION ALL
        |SELECT 'g:nation', 'nat:'||n_nationkey, n_name, 'N/A' FROM nation""".stripMargin,
    "sparql_num_builtins" ->
      """SELECT 'cust:'||c_custkey AS c, abs(c_acctbal) AS ab,
        |  ceil(c_acctbal) AS ce, floor(c_acctbal) AS fl,
        |  floor(c_acctbal + 0.5) AS rd
        |FROM customer""".stripMargin,
    "sparql_hash_builtins" ->
      """SELECT n_name AS n, md5(n_name) AS h, sha256(n_name) AS h2
        |FROM nation""".stripMargin,
    "sparql_hash_family" ->
      """SELECT n, md5(n) AS hm, h1, sha256(n) AS h2, h3, h5
        |FROM (VALUES
        |  ('abc',
        |   'a9993e364706816aba3e25717850c26c9cd0d89d',
        |   'cb00753f45a35e8bb5a03d699ac65007272c32ab0eded1631a8b605a43ff5bed8086072ba1e7cc2358baeca134c825a7',
        |   'ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f'),
        |  ('SPARQL',
        |   '22fa7067e0adc2f0f2ad8b1c09eefd391ac3b007',
        |   'ead9173b4a549a5a8ad470bb21da841ea92c29a337d399fae615dd5d6937fddd721070849ac9318c32ffb7eece004d3a',
        |   'fbbc83bdae3418ce9206d967cb2f969a4ae429d52a327b52849a3a0cbea8f9c8b8a2ea45bb047ba9605db515c48432c2cf66494f6f1fc52bc8dc675d63f64a12')
        |) AS t(n, h1, h3, h5)""".stripMargin,
    // arg_min/arg_max on the epoch pick the instant-extreme element
    // but return its ORIGINAL lexical — the engine's fold contract
    "sparql_datetime_minmax" ->
      """SELECT arg_min(t, epoch(CAST(t AS TIMESTAMPTZ))) AS earliest,
        |       arg_max(t, epoch(CAST(t AS TIMESTAMPTZ))) AS latest
        |FROM (VALUES ('2020-01-01T12:00:00+09:00'), ('2020-01-01T08:00:00Z'),
        |             ('2020-01-01T07:30:00-01:00')) AS v(t)""".stripMargin,
    // epoch(): DuckDB 1.0.0 mis-plans a column-side TIMESTAMPTZ '<'
    // against a TIMESTAMPTZ constant (constant-folds fine, column
    // path compares wrong) — comparing the epochs sidesteps it
    "sparql_datetime_compare" ->
      """SELECT t FROM (VALUES
        |  ('2020-01-01T12:00:00+02:00'), ('2020-01-01T10:30:00Z'),
        |  ('2020-01-01T09:00:00-05:00'), ('2019-12-31T23:59:59-11:00')
        |) AS v(t)
        |WHERE epoch(CAST(t AS TIMESTAMPTZ))
        |    < epoch(CAST('2020-01-01T13:00:00Z' AS TIMESTAMPTZ))
        |ORDER BY epoch(CAST(t AS TIMESTAMPTZ)) LIMIT 2""".stripMargin,
    "sparql_exists_expr" ->
      """SELECT 'cust:'||c_custkey AS c, c_acctbal AS b FROM customer
        |WHERE c_acctbal < 0 AND EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "sparql_not_exists_group" ->
      """SELECT 'cust:'||c_custkey AS c FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "sparql_values_clause" ->
      """SELECT 'cust:'||c_custkey AS c, c_mktsegment AS m
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')""".stripMargin,
    "sparql_count_optional" ->
      """SELECT 'cust:'||c_custkey AS c, count(o.o_orderkey) AS cnt
        |FROM customer LEFT JOIN orders o ON o.o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "sparql_optional_compat" ->
      """SELECT 'cust:'||c_custkey AS c,
        |       CASE WHEN c_mktsegment LIKE 'B%' THEN c_mktsegment
        |            ELSE c_name END AS v
        |FROM customer""".stripMargin,
    "sparql_join_compat" ->
      """SELECT 'cust:'||c_custkey AS c, c_name AS v FROM customer
        |WHERE c_mktsegment = c_name
        |UNION ALL
        |SELECT 'cust:'||c_custkey AS c, c_name AS v FROM customer""".stripMargin,
    "sparql_minus_compat" ->
      """SELECT 'cust:'||c_custkey AS c FROM customer
        |WHERE c_mktsegment NOT LIKE 'A%'""".stripMargin,
    "sparql_min_string" ->
      """SELECT 'nat:'||c_nationkey AS nat, min(c_name) AS mn
        |FROM customer GROUP BY 1""".stripMargin,
    "sparql_bnode_proplist" ->
      """SELECT c_name AS n, CAST(c_acctbal AS DOUBLE) AS b
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND c_acctbal > 4500""".stripMargin,
    "sparql_object_list" ->
      """SELECT 'cust:'||c_custkey AS c, c_mktsegment AS m,
        |       CAST(c_acctbal AS DOUBLE) AS b
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 4000""".stripMargin,
    "sparql_lang_literal_match" ->
      """SELECT 'nat:'||n_nationkey AS n, 'reg:'||n_regionkey AS r
        |FROM nation WHERE n_nationkey = 2""".stripMargin,
    "sparql_values_undef" ->
      """SELECT 'nat:'||n_nationkey AS x, n_name AS n FROM nation
        |WHERE n_nationkey = 1
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, n_name FROM nation
        |WHERE n_name = 'NATION_7'
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, n_name FROM nation
        |WHERE n_nationkey = 3 AND n_name = 'NATION_3'""".stripMargin,
    "sparql_datetime_builtins" ->
      """SELECT 'ord:'||o_orderkey AS o,
        |  CAST(year(o_orderdate) AS DOUBLE) AS y,
        |  CAST(month(o_orderdate) AS DOUBLE) AS mo,
        |  CAST(day(o_orderdate) AS DOUBLE) AS dy,
        |  CAST(hour(o_orderdate) AS DOUBLE) AS hh
        |FROM orders""".stripMargin,
    "sparql_datetime_groupby" ->
      """SELECT CAST(month(o_orderdate) AS DOUBLE) AS mo, count(*) AS n
        |FROM orders WHERE year(o_orderdate) = 1996
        |GROUP BY 1""".stripMargin,
    "sparql_tz_builtins" ->
      """SELECT 'cust:'||c_custkey AS c,
        |  CASE WHEN c_acctbal < 0 THEN 'Z'
        |       WHEN c_acctbal < 5000 THEN '-08:00'
        |       ELSE '+05:30' END AS tz,
        |  CASE WHEN c_acctbal < 0 THEN 'PT0S'
        |       WHEN c_acctbal < 5000 THEN '-PT8H'
        |       ELSE 'PT5H30M' END AS dur,
        |  '' AS tz0
        |FROM customer""".stripMargin,
    "sparql_orderby_expr" ->
      """SELECT 'part:'||p_partkey AS p, CAST(p_size AS DOUBLE) AS sz,
        |       p_retailprice AS rp
        |FROM part
        |ORDER BY (p_retailprice - p_size * 10) DESC, p ASC LIMIT 20""".stripMargin,
    "sparql_path_range" ->
      """SELECT 'nat:'||c_nationkey AS y FROM customer WHERE c_custkey = 7
        |UNION
        |SELECT 'reg:'||n_regionkey
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey = 7""".stripMargin,
    "sparql_datatype_lang" ->
      """SELECT 'nat:'||n_nationkey AS x,
        |  'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString' AS dtc,
        |  CASE WHEN n_nationkey % 2 = 0 THEN 'en' ELSE 'fr' END AS lgc,
        |  'http://www.w3.org/2001/XMLSchema#string' AS dtn,
        |  CAST(NULL AS VARCHAR) AS dtr
        |FROM nation""".stripMargin,
    "sparql_term_filters" ->
      """SELECT 'cust:'||c_custkey AS s, 'nat:'||c_nationkey AS n,
        |       c_name AS nm FROM customer
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, 'nat:'||s_nationkey, s_name
        |FROM supplier""".stripMargin,
    "sparql_sum_distinct" ->
      """SELECT p_brand AS b, sum(DISTINCT CAST(p_size AS DOUBLE)) AS ds,
        |  count(*) AS n
        |FROM part GROUP BY 1""".stripMargin,
    "sparql_agg_expr" ->
      """SELECT p_brand AS b, sum(CAST(p_size AS DOUBLE) * p_size) AS s2,
        |  max(p_retailprice * 2 - p_size) AS mx,
        |  count(*) AS n
        |FROM part GROUP BY 1""".stripMargin,
    "sparql_orderby_agg" ->
      """SELECT 'nat:'||c_nationkey AS n, count(*) AS cnt
        |FROM customer GROUP BY 1
        |ORDER BY cnt DESC, n ASC LIMIT 10""".stripMargin,
    "sparql_subquery" ->
      """SELECT n_name AS nm, cnt FROM (
        |  SELECT c_nationkey AS k, count(*) AS cnt
        |  FROM customer GROUP BY 1) t
        |JOIN nation ON n_nationkey = t.k""".stripMargin,
    "sparql_in_filter" ->
      """SELECT 'cust:'||c_custkey AS c, c_mktsegment AS m,
        |       'nat:'||c_nationkey AS n
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |  AND c_nationkey NOT IN (1, 2)""".stripMargin,
    "sparql_bound_filter" ->
      """SELECT 'cust:'||c_custkey AS c FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderstatus = 'P')""".stripMargin,
    "sparql_if_coalesce" ->
      """SELECT 'cust:'||c_custkey AS c,
        |  CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'low' END AS tier,
        |  'none' AS fall
        |FROM customer""".stripMargin,
    "sparql_neg_path" ->
      """SELECT 'supp:'||s_suppkey AS s, s_name AS o FROM supplier
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, 'nat:'||s_nationkey FROM supplier""".stripMargin,
    "sparql_sample" ->
      """SELECT c_mktsegment AS m, min('cust:'||c_custkey) AS rep
        |FROM customer GROUP BY 1""".stripMargin,
    "sparql_str_builtins" ->
      """SELECT 'part:'||p_partkey AS p, substr(p_name, 1, 5) AS pre,
        |  CASE WHEN strpos(p_name, ' ') > 0
        |       THEN substr(p_name, 1, strpos(p_name, ' ') - 1) ELSE '' END AS bef,
        |  CASE WHEN strpos(p_name, ' ') > 0
        |       THEN substr(p_name, strpos(p_name, ' ') + 1) ELSE '' END AS aft,
        |  replace(p_name, ' ', '_') AS und
        |FROM part""".stripMargin,
    "sparql_having" ->
      """SELECT 'cust:'||o_custkey AS c, count(*) AS cnt
        |FROM orders GROUP BY 1 HAVING count(*) >= 3""".stripMargin,
    // the RDF store is a triple SET: the duplicated lineitem quad in
    // the synthetic data collapses, so the oracle distincts the full
    // (quad, quantity) row before aggregating
    "sparql_having_sum_agg" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey,
        |              l_suppkey, l_quantity FROM lineitem)
        |SELECT 'cust:'||o_custkey AS c, sum(l_quantity) AS tot,
        |       count(*) AS nl
        |FROM li JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 HAVING sum(l_quantity) > 900""".stripMargin,
    "sparql_having_expr" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey,
        |              l_suppkey, l_quantity FROM lineitem)
        |SELECT 'cust:'||o_custkey AS c, count(*) AS nl
        |FROM li JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 HAVING sum(l_quantity) / count(*) > 30""".stripMargin,
    // same ulp posture as avg_rational: (sum/count)*count reconstructs
    // the 2-decimal-quantized sum on both engines, round(…, 2) absorbs
    // the division's drift
    "sparql_select_expr_agg" ->
      """SELECT 'cust:'||o_custkey AS c,
        |       round((sum(o_totalprice) / count(*)) * count(*), 2) AS av_x_cnt,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,
    "sparql_order_by_agg" ->
      """SELECT c_mktsegment AS m, count(*) AS cnt FROM customer
        |GROUP BY 1 ORDER BY cnt DESC, m ASC LIMIT 3""".stripMargin,
    "sparql_values_post_agg" ->
      """SELECT c_mktsegment AS m, count(*) AS cnt FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY 1""".stripMargin,
    "sparql_groupby_expr" ->
      """SELECT CAST(floor(p_size / 10) AS DOUBLE) AS bkt,
        |       count(*) AS cnt
        |FROM part GROUP BY 1""".stripMargin,
    "sparql_regex_flags" ->
      """SELECT 'cust:'||c_custkey AS s, c_name AS n
        |FROM customer
        |WHERE regexp_matches(c_name, '(?i)^CUSTOMER#.*19$')""".stripMargin,
    "sparql_orderby_bracket" ->
      """SELECT 'part:'||p_partkey AS p, CAST(p_size AS DOUBLE) AS sz
        |FROM part ORDER BY (0 - p_size), 'part:'||p_partkey
        |LIMIT 20""".stripMargin,
    "sparql_expr_filter" ->
      """SELECT 'part:'||p_partkey AS p, p_name AS n, p_retailprice AS rp
        |FROM part
        |WHERE length(p_name) >= 10 AND p_retailprice * 2 > 1500""".stripMargin,
    // variable-target DESCRIBE replay: out-arm = the four nation
    // triples per region-2 nation, in-arm = customer/supplier
    // :hasNation edges into those nations
    "sparql_describe_where" ->
      """WITH t AS (SELECT n_nationkey AS k, n_name FROM nation
        |           WHERE n_regionkey = 2)
        |SELECT 'out' AS dir, 'nat:'||k AS s, 'rdf:type' AS p, ':Nation' AS o
        |FROM t
        |UNION ALL
        |SELECT 'out', 'nat:'||k, ':name', n_name FROM t
        |UNION ALL
        |SELECT 'out', 'nat:'||k, ':comment', n_name||' comment' FROM t
        |UNION ALL
        |SELECT 'out', 'nat:'||k, ':inRegion', 'reg:2' FROM t
        |UNION ALL
        |SELECT 'in', 'cust:'||c_custkey, ':hasNation', 'nat:'||c_nationkey
        |FROM customer JOIN t ON c_nationkey = k
        |UNION ALL
        |SELECT 'in', 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey
        |FROM supplier JOIN t ON s_nationkey = k""".stripMargin,
    "sparql_describe_multi" ->
      """SELECT 'out' AS dir, 'nat:1' AS s, 'rdf:type' AS p, ':Nation' AS o
        |FROM nation WHERE n_nationkey = 1
        |UNION ALL
        |SELECT 'out', 'nat:1', ':name', n_name FROM nation WHERE n_nationkey = 1
        |UNION ALL
        |SELECT 'out', 'nat:1', ':comment', n_name||' comment'
        |FROM nation WHERE n_nationkey = 1
        |UNION ALL
        |SELECT 'out', 'nat:1', ':inRegion', 'reg:'||n_regionkey
        |FROM nation WHERE n_nationkey = 1
        |UNION ALL
        |SELECT 'in', 'cust:'||c_custkey, ':hasNation', 'nat:1'
        |FROM customer WHERE c_nationkey = 1
        |UNION ALL
        |SELECT 'in', 'supp:'||s_suppkey, ':hasNation', 'nat:1'
        |FROM supplier WHERE s_nationkey = 1
        |UNION ALL
        |SELECT 'out', 'reg:1', 'rdf:type', ':Region'
        |FROM region WHERE r_regionkey = 1
        |UNION ALL
        |SELECT 'out', 'reg:1', ':name', r_name FROM region WHERE r_regionkey = 1
        |UNION ALL
        |SELECT 'in', 'nat:'||n_nationkey, ':inRegion', 'reg:1'
        |FROM nation WHERE n_regionkey = 1""".stripMargin,
    "sparql_describe_mixed" ->
      """WITH t AS (SELECT n_nationkey AS k, n_name FROM nation
        |           WHERE n_regionkey = 0)
        |SELECT 'out' AS dir, 'nat:'||k AS s, 'rdf:type' AS p, ':Nation' AS o
        |FROM t
        |UNION ALL
        |SELECT 'out', 'nat:'||k, ':name', n_name FROM t
        |UNION ALL
        |SELECT 'out', 'nat:'||k, ':comment', n_name||' comment' FROM t
        |UNION ALL
        |SELECT 'out', 'nat:'||k, ':inRegion', 'reg:0' FROM t
        |UNION ALL
        |SELECT 'in', 'cust:'||c_custkey, ':hasNation', 'nat:'||c_nationkey
        |FROM customer JOIN t ON c_nationkey = k
        |UNION ALL
        |SELECT 'in', 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey
        |FROM supplier JOIN t ON s_nationkey = k
        |UNION ALL
        |SELECT 'out', 'reg:3', 'rdf:type', ':Region'
        |FROM region WHERE r_regionkey = 3
        |UNION ALL
        |SELECT 'out', 'reg:3', ':name', r_name FROM region WHERE r_regionkey = 3
        |UNION ALL
        |SELECT 'in', 'nat:'||n_nationkey, ':inRegion', 'reg:3'
        |FROM nation WHERE n_regionkey = 3""".stripMargin,
  )
}
