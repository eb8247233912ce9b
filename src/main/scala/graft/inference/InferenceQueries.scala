package graft.inference

import graft.rdf.TripleStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §C: inference / micro-reasoner operators. Oracles replicate
  * the static ontology as VALUES lists and use recursive CTEs for the
  * closure parts.
  */
object InferenceQueries {

  private val scoValues = Ontology.subClassOf
    .map { case (a, b) => s"('$a','$b')" }.mkString(", ")
  private val spoValues = Ontology.subPropertyOf
    .map { case (a, b) => s"('$a','$b')" }.mkString(", ")

  /** `infer_sameas_canon` at an explicit regime budget
    * ([[SameAs.canonicalize]]); tests pass 0 to plan the Spark side.
    */
  private[graft] def sameAsCanon(s: SparkSession, dir: String, budget: Long): DataFrame = {
    val cust = TripleStore.dimensionTriples(s, dir)
      .filter(col("s").startsWith("cust:"))
    def alias(space: String) = regexp_replace(col("s"), "^cust:", space + ":")
    val split = cust.withColumn("s",
      when(col("p") === ":name", alias("custA"))
        .when(col("p") === ":acctbal", alias("custB"))
        .otherwise(col("s")))
    // both link legs (cust→custA, custA→custB) from one pass over the
    // distinct subjects: one exchange, not one per leg
    def link(from: Column, to: Column) = struct(from.as("from"), to.as("to"))
    val links = cust.select(col("s")).distinct()
      .select(explode(array(link(col("s"), alias("custA")),
        link(alias("custA"), alias("custB")))).as("l"))
      .select(col("l.from").as("s"), lit(SameAs.OWL_SAMEAS).as("p"),
        col("l.to").as("o"), lit(null).cast("double").as("o_num"),
        lit(true).as("o_is_iri"), lit(null).cast("string").as("lang"))
    // canonicalize's gate reads the assembled store once (persisting it
    // over the regime budget), and both star arms read the merged
    // store: at sf0.001 (1,050 rows) a local relation rewritten on the
    // driver, over the budget a checkpoint, so the rewrite runs once
    // either way
    val merged = SameAs.canonicalize(s, split.unionByName(links), budget)
    merged.filter(col("p") === ":name")
      .select(col("s").as("c"), col("o").as("n"))
      .join(merged.filter(col("p") === ":acctbal")
        .select(col("s").as("c"), col("o_num").as("b")), Seq("c"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "infer_subclass_closure" -> { (s, _) =>
      s.createDataFrame(Ontology.subClassClosure.toSeq.sorted).toDF("sub", "sup")
    },
    // owl:sameAs smushing: each customer's identity is deliberately
    // split across three URI spaces (name under custA:, balance under
    // custB:, the rest under cust:) linked only by a sameAs CHAIN
    // (cust→custA→custB, so resolution must be transitive). The
    // name+balance star join below ONLY matches if canonicalization
    // merged the identities — unmerged, it returns zero rows.
    "infer_sameas_canon" -> ((s, dir) => sameAsCanon(s, dir, graft.Regime.budget)),
    "infer_nodes_with_label" -> { (s, dir) =>
      Reasoner.nodesWithLabel(s, TripleStore.dimensionTriples(s, dir), ":Agent")
    },
    "infer_rels_subproperty" -> { (s, dir) =>
      val edges = graft.rdf.PropertyGraph.edges(TripleStore.dimensionTriples(s, dir))
      Reasoner.rels(s, edges, ":locatedIn")
    },
    // owl:inverseOf materialization (OWL 2 RL prp-inv1/prp-inv2)
    "infer_inverse_rels" -> { (s, dir) =>
      val edges = graft.rdf.PropertyGraph.edges(TripleStore.dimensionTriples(s, dir))
      Reasoner.inverseEdges(s, edges)
    },
    // owl:TransitiveProperty materialization (OWL 2 RL prp-trp
    // composed with the rdfs7 subproperty lift): the geo containment
    // chain closes — customer/supplier :locatedIn region appears
    "infer_transitive_rels" -> { (s, dir) =>
      val edges = graft.rdf.PropertyGraph.edges(TripleStore.dimensionTriples(s, dir))
      Reasoner.transitiveEdges(s, edges)
    },
    // OWL 2 RL prp-fp surfaced as a VALIDATION report (the rule says
    // "infer sameAs"; on reference data two conflicting nations are a
    // data error, so the production posture is to REPORT, not merge):
    // a second "import" maps odd suppliers to a shifted nation — the
    // conflicting-sources scenario functional properties exist to
    // catch — and the report lists each subject with >1 distinct
    // value, values sorted-concatenated for determinism (r10)
    "infer_functional_violations" -> { (s, dir) =>
      val sup = graft.Tables.supplier(s, dir)
      def edge(o: Column) = sup.select(
        concat(lit("supp:"), col("s_suppkey")).as("s"),
        lit(":hasNation").as("p"), o.as("o"))
      val base = edge(concat(lit("nat:"), col("s_nationkey")))
      val conflict = sup.filter(col("s_suppkey") % 2 === 1).select(
        concat(lit("supp:"), col("s_suppkey")).as("s"),
        lit(":hasNation").as("p"),
        concat(lit("nat:"), (col("s_nationkey") + 1) % 25).as("o"))
      base.unionAll(conflict)
        .groupBy(col("s"))
        .agg(countDistinct(col("o")).as("n_values"),
          concat_ws(",", sort_array(collect_set(col("o")))).as("vals"))
        .filter(col("n_values") > 1)
    },
    // OWL 2 RL prp-spo2: :hasNation ∘ :inRegion ⊑ :locatedInRegion —
    // every entity chained to a region through its nation gets the
    // direct entailed edge (r10)
    "infer_property_chain" -> { (s, dir) =>
      Reasoner.propertyChain(TripleStore.dimensionTriples(s, dir),
        Seq(":hasNation", ":inRegion"), ":locatedInRegion")
    },
    // node-anchored directional getRels (ref MicroReasoners.getRels
    // reldir param): everything :locatedIn-ish touching nat:1
    "infer_rels_directed" -> { (s, dir) =>
      val edges = graft.rdf.PropertyGraph.edges(TripleStore.dimensionTriples(s, dir))
      Reasoner.relsOf(s, edges, "nat:1", ":locatedIn")
    },
    "infer_has_label" -> { (s, dir) =>
      Reasoner.hasLabel(s, TripleStore.dimensionTriples(s, dir), ":Place")
        .filter(col("uri").startsWith("nat:") || col("uri").startsWith("cust:"))
    },
    // category micro-reasoner (ref MicroReasoners.getNodesLinkedTo):
    // members of reg:1 = anything :hasNation-linked into the
    // :inRegion-closure below reg:1
    "infer_nodes_in_category" -> { (s, dir) =>
      val edges = graft.rdf.PropertyGraph.edges(TripleStore.dimensionTriples(s, dir))
      Reasoner.nodesInCategory(s, edges, "reg:1", ":inRegion", ":hasNation")
    },
    // end-to-end ontology import: static ontology serialized as an
    // RDF/XML document, re-parsed, then extracted into typed
    // meta-nodes (LiteOntologyImporter over the RDFXML parser path)
    "onto_import_rdfxml" -> { (s, _) =>
      import s.implicits._
      val classes = Ontology.subClassOf.flatMap(t => Seq(t._1, t._2)).distinct.sorted
      val props = Ontology.subPropertyOf.flatMap(t => Seq(t._1, t._2)).distinct.sorted
      val none = Option.empty[String]
      val rows =
        classes.map(c => (c, "rdf:type", "owl:Class", Option.empty[Double], true, none)) ++
          classes.map(c => (c, "rdfs:label", c.stripPrefix(":"), Option.empty[Double], false, none)) ++
          props.map(p => (p, "rdf:type", "owl:ObjectProperty", Option.empty[Double], true, none))
      val onto = rows.toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
      Ontology.importLite(
        graft.rdf.RdfXml.parse(s, graft.rdf.RdfXml.formatString(onto)))
    },
    // RDFS rules rdfs2/rdfs3: domain types the subject, range the
    // object — over the dimension edge set
    "infer_domain_range_types" -> { (s, dir) =>
      val edges = graft.rdf.PropertyGraph.edges(TripleStore.dimensionTriples(s, dir))
      Reasoner.typesFromDomainRange(s, edges)
    },
    // ontology meta-edges through a full Turtle round-trip: hierarchy
    // + domain/range assertions → typed relationships between the
    // meta-nodes (ref LiteOntologyImporter.java:112-146)
    "onto_import_edges" -> { (s, _) =>
      import s.implicits._
      val none = Option.empty[String]
      def iriRows(pairs: Seq[(String, String)], p: String) =
        pairs.map { case (a, b) => (a, p, b, Option.empty[Double], true, none) }
      val onto = (iriRows(Ontology.subClassOf, "rdfs:subClassOf") ++
        iriRows(Ontology.subPropertyOf, "rdfs:subPropertyOf") ++
        iriRows(Ontology.domains, "rdfs:domain") ++
        iriRows(Ontology.ranges, "rdfs:range"))
        .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
      Ontology.importLiteEdges(
        graft.rdf.Turtle.parse(s, graft.rdf.Turtle.format(onto)))
    },
    "onto_import_lite" -> { (s, _) =>
      val t = Ontology.triples(s)
      val classes = t.filter(col("p") === Ontology.SCO)
        .select(explode(array(col("s"), col("o"))).as("uri"))
        .distinct().withColumn("kind", lit("Class"))
      val props = t.filter(col("p") === Ontology.SPO)
        .select(explode(array(col("s"), col("o"))).as("uri"))
        .distinct().withColumn("kind", lit("Relationship"))
      classes.unionAll(props)
    },
  )

  val oracle: Map[String, String] = Map(
    // merged identities reunite each customer's name and balance
    "infer_sameas_canon" ->
      """SELECT 'cust:'||c_custkey AS c, c_name AS n, c_acctbal AS b
        |FROM customer""".stripMargin,
    "infer_subclass_closure" ->
      s"""WITH RECURSIVE base(sub, sup) AS (SELECT * FROM (VALUES $scoValues)),
         |sco(sub, sup) AS (
         |  SELECT sub, sup FROM base
         |  UNION
         |  SELECT s.sub, b.sup FROM sco s JOIN base b ON s.sup = b.sub)
         |SELECT sub, sup FROM sco""".stripMargin,
    "infer_nodes_with_label" ->
      """SELECT 'cust:'||c_custkey AS uri FROM customer
        |UNION ALL
        |SELECT 'supp:'||s_suppkey FROM supplier""".stripMargin,
    "infer_rels_subproperty" ->
      """SELECT 'cust:'||c_custkey AS src, ':hasNation' AS rel,
        |       'nat:'||c_nationkey AS dst FROM customer
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey FROM supplier
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, ':inRegion', 'reg:'||n_regionkey FROM nation""".stripMargin,
    // the base graph carries no :nationOf/:regionContains edges, so
    // the entailment is exactly the inverted geo edges
    "infer_inverse_rels" ->
      """SELECT 'nat:'||c_nationkey AS src, ':nationOf' AS rel,
        |       'cust:'||c_custkey AS dst FROM customer
        |UNION ALL
        |SELECT 'nat:'||s_nationkey, ':nationOf', 'supp:'||s_suppkey FROM supplier
        |UNION ALL
        |SELECT 'reg:'||n_regionkey, ':regionContains', 'nat:'||n_nationkey
        |FROM nation""".stripMargin,
    // the closed geo chain: every base containment edge plus the
    // composed customer/supplier→region pairs, all entailed at the
    // transitive superproperty
    "infer_functional_violations" ->
      """WITH e AS (
        |  SELECT 'supp:'||s_suppkey AS s, 'nat:'||s_nationkey AS o
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'supp:'||s_suppkey, 'nat:'||((s_nationkey + 1) % 25)
        |  FROM supplier WHERE s_suppkey % 2 = 1)
        |SELECT s, count(DISTINCT o) AS n_values,
        |  string_agg(DISTINCT o, ',' ORDER BY o) AS vals
        |FROM e GROUP BY s HAVING count(DISTINCT o) > 1""".stripMargin,
    "infer_property_chain" ->
      """SELECT DISTINCT 'cust:'||c_custkey AS s,
        |  ':locatedInRegion' AS p, 'reg:'||n_regionkey AS o
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |UNION
        |SELECT DISTINCT 'supp:'||s_suppkey, ':locatedInRegion',
        |  'reg:'||n_regionkey
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin,
    "infer_transitive_rels" ->
      """WITH RECURSIVE base(src, dst) AS (
        |  SELECT 'cust:'||c_custkey, 'nat:'||c_nationkey FROM customer
        |  UNION ALL
        |  SELECT 'supp:'||s_suppkey, 'nat:'||s_nationkey FROM supplier
        |  UNION ALL
        |  SELECT 'nat:'||n_nationkey, 'reg:'||n_regionkey FROM nation),
        |tc(src, dst) AS (
        |  SELECT src, dst FROM base
        |  UNION
        |  SELECT t.src, b.dst FROM tc t JOIN base b ON t.dst = b.src)
        |SELECT src, ':locatedIn' AS rel, dst FROM tc""".stripMargin,
    "infer_rels_directed" ->
      """SELECT '>' AS dir, ':inRegion' AS rel, 'reg:'||n_regionkey AS other
        |FROM nation WHERE n_nationkey = 1
        |UNION ALL
        |SELECT '<', ':hasNation', 'cust:'||c_custkey FROM customer
        |WHERE c_nationkey = 1
        |UNION ALL
        |SELECT '<', ':hasNation', 'supp:'||s_suppkey FROM supplier
        |WHERE s_nationkey = 1""".stripMargin,
    "infer_has_label" ->
      """SELECT 'nat:'||n_nationkey AS uri, true AS has FROM nation
        |UNION ALL
        |SELECT 'cust:'||c_custkey, false FROM customer""".stripMargin,
    "infer_nodes_in_category" ->
      """WITH RECURSIVE cat(c) AS (
        |  SELECT 'reg:1'
        |  UNION
        |  SELECT 'nat:'||n_nationkey FROM nation, cat
        |  WHERE 'reg:'||n_regionkey = cat.c)
        |SELECT DISTINCT uri FROM (
        |  SELECT 'cust:'||c_custkey AS uri, 'nat:'||c_nationkey AS dst
        |  FROM customer
        |  UNION ALL
        |  SELECT 'supp:'||s_suppkey, 'nat:'||s_nationkey FROM supplier) m
        |JOIN cat ON m.dst = cat.c""".stripMargin,
    "onto_import_rdfxml" -> {
      val classes = Ontology.subClassOf.flatMap(t => Seq(t._1, t._2)).distinct.sorted
      val props = Ontology.subPropertyOf.flatMap(t => Seq(t._1, t._2)).distinct.sorted
      val vals = (classes.map(c => s"('$c','Class','${c.stripPrefix(":")}')") ++
        props.map(p => s"('$p','Relationship','${p.stripPrefix(":")}')"))
        .mkString(", ")
      s"SELECT * FROM (VALUES $vals) t(uri, kind, name)"
    },
    "infer_domain_range_types" ->
      """SELECT DISTINCT uri, t FROM (
        |  SELECT 'cust:'||c_custkey AS uri, ':Agent' AS t FROM customer
        |  UNION ALL SELECT 'supp:'||s_suppkey, ':Agent' FROM supplier
        |  UNION ALL SELECT 'nat:'||n_nationkey, ':Nation' FROM nation
        |  UNION ALL SELECT 'ord:'||o_orderkey, ':Order' FROM orders
        |  UNION ALL SELECT 'reg:'||r_regionkey, ':Region' FROM region
        |  UNION ALL SELECT 'cust:'||o_custkey, ':Customer' FROM orders)""".stripMargin,
    "onto_import_edges" -> {
      def vals(pairs: Seq[(String, String)], rel: String) =
        pairs.map { case (a, b) => s"('$a','$rel','$b')" }
      val all = (vals(Ontology.subClassOf, "SUBCLASS_OF") ++
        vals(Ontology.subPropertyOf, "SUBPROP_OF") ++
        vals(Ontology.domains, "DOMAIN") ++
        vals(Ontology.ranges, "RANGE")).mkString(", ")
      s"SELECT * FROM (VALUES $all) t(src, rel, dst)"
    },
    "onto_import_lite" ->
      s"""WITH sco(sub, sup) AS (SELECT * FROM (VALUES $scoValues)),
         |     spo(sub, sup) AS (SELECT * FROM (VALUES $spoValues))
         |SELECT uri, 'Class' AS kind FROM
         |  (SELECT sub AS uri FROM sco UNION SELECT sup FROM sco)
         |UNION ALL
         |SELECT uri, 'Relationship' FROM
         |  (SELECT sub AS uri FROM spo UNION SELECT sup FROM spo)""".stripMargin,
  )
}
