package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Static test ontology over the TPC-H-ish RDF vocabulary: a class
  * hierarchy (rdfs:subClassOf, "SCO") and a property hierarchy
  * (rdfs:subPropertyOf, "SPO") — the inputs the reference's
  * micro-reasoners walk transitively (reference:
  * pidb-rdf-import/src/main/java/semantics/inference/MicroReasoners.java:20-22).
  * Both hierarchies are closed once, on the driver, when the object
  * loads ([[close]]); the reasoners filter on the closed sets with
  * `isin`, so no Spark job ever closes them.
  */
object Ontology {

  val SCO = "rdfs:subClassOf"
  val SPO = "rdfs:subPropertyOf"

  /** (sub, sup) direct subclass edges. */
  val subClassOf: Seq[(String, String)] = Seq(
    ":Customer" -> ":Agent",
    ":Supplier" -> ":Agent",
    ":Agent" -> ":LegalEntity",
    ":LegalEntity" -> ":Thing",
    ":Part" -> ":Artifact",
    ":Artifact" -> ":Thing",
    ":Order" -> ":Transaction",
    ":Lineitem" -> ":Transaction",
    ":Transaction" -> ":Thing",
    ":Nation" -> ":Place",
    ":Region" -> ":Place",
    ":Place" -> ":Thing")

  /** (sub, sup) direct subproperty edges. */
  val subPropertyOf: Seq[(String, String)] = Seq(
    ":hasNation" -> ":locatedIn",
    ":inRegion" -> ":locatedIn",
    ":locatedIn" -> ":related",
    ":byCustomer" -> ":involves",
    ":ofPart" -> ":involves",
    ":bySupplier" -> ":involves",
    ":involves" -> ":related",
    ":ofOrder" -> ":partOf",
    ":partOf" -> ":related")

  /** (p, q) owl:inverseOf declarations — each direction entails the
    * other (OWL 2 RL prp-inv1/prp-inv2).
    */
  val inverseOf: Seq[(String, String)] = Seq(
    ":hasNation" -> ":nationOf",
    ":inRegion" -> ":regionContains")

  /** owl:TransitiveProperty declarations (OWL 2 RL prp-trp): chains
    * of p compose — s p o, o p o' entails s p o'. Declared on the
    * geo-containment superproperty, so the entailment composes with
    * rdfs7 (the subproperty lift): customer→nation→region closes to
    * customer :locatedIn region.
    */
  val transitiveProps: Seq[String] = Seq(":locatedIn")

  /** (property, class) rdfs:domain / rdfs:range assertions. */
  val domains: Seq[(String, String)] = Seq(
    ":hasNation" -> ":Agent",
    ":inRegion" -> ":Nation",
    ":byCustomer" -> ":Order")
  val ranges: Seq[(String, String)] = Seq(
    ":hasNation" -> ":Nation",
    ":inRegion" -> ":Region",
    ":byCustomer" -> ":Customer")

  /** Strict transitive closure of (sub, sup) pairs, closed on the
    * driver: each round adds every two-hop composition, and the loop
    * stops when a round adds nothing, which a cycle cannot prevent
    * because the pair set only grows within nodes × nodes. The static
    * hierarchies are a dozen pairs known at compile time, so a Spark
    * closure over them would spend about twenty jobs on what the
    * driver computes in microseconds.
    */
  def close(pairs: Seq[(String, String)]): Set[(String, String)] = {
    var cur = pairs.toSet
    var grown = true
    while (grown) {
      val next = cur ++ (for ((a, b) <- cur; (c, d) <- cur if b == c) yield (a, d))
      grown = next.size > cur.size
      cur = next
    }
    cur
  }

  /** `top` and every node below it in a [[close]]d hierarchy, sorted
    * so the `isin` lists the reasoners build are stable.
    */
  def below(closure: Set[(String, String)], top: String): Seq[String] =
    (closure.collect { case (sub, `top`) => sub } + top).toSeq.sorted

  val subClassClosure: Set[(String, String)] = close(subClassOf)
  val subPropertyClosure: Set[(String, String)] = close(subPropertyOf)

  /** The ontology as triples (LiteOntologyImporter's input shape;
    * reference: pidb-rdf-import/src/main/java/semantics/LiteOntologyImporter.java).
    */
  def triples(spark: SparkSession): DataFrame = {
    val rows = subClassOf.map { case (a, b) => (a, SCO, b) } ++
      subPropertyOf.map { case (a, b) => (a, SPO, b) }
    spark.createDataFrame(rows).toDF("s", "p", "o")
  }

  /** LiteOntologyImporter analog over a PARSED ontology triple
    * relation (reference LiteOntologyImporter.java:40-95): typed
    * class/property meta-nodes (owl:Class → Class,
    * owl:ObjectProperty → Relationship, owl:DatatypeProperty /
    * rdf:Property → Property), named by rdfs:label with IRI
    * local-name fallback. Composes with any of the five import
    * formats — e.g. RdfXml.read(ontology file) feeds straight in.
    */
  def importLite(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    val kinds = spark.createDataFrame(Seq(
      ("owl:Class", "Class"),
      ("owl:ObjectProperty", "Relationship"),
      ("owl:DatatypeProperty", "Property"),
      ("rdf:Property", "Property"))).toDF("t", "kind")
    val typed = triples.filter(col("p") === "rdf:type")
      .select(col("s").as("uri"), col("o").as("t"))
      .join(broadcast(kinds), "t")
    val labels = triples.filter(col("p") === "rdfs:label")
      .select(col("s").as("uri"), col("o").as("lbl"))
    typed.join(labels, Seq("uri"), "left_outer")
      .select(col("uri"), col("kind"),
        coalesce(col("lbl"),
          graft.rdf.UriFunctions.localName(col("uri"))).as("name"))
  }

  /** The meta-EDGES the reference's importer also materializes
    * (LiteOntologyImporter.java:112-146): rdfs:subClassOf /
    * subPropertyOf hierarchy plus rdfs:domain / rdfs:range typed
    * SUBCLASS_OF / SUBPROP_OF / DOMAIN / RANGE relationships between
    * the meta-nodes. One broadcast of the 4-row predicate table onto
    * the parsed ontology relation.
    */
  def importLiteEdges(triples: DataFrame): DataFrame = {
    val rels = triples.sparkSession.createDataFrame(Seq(
      ("rdfs:subClassOf", "SUBCLASS_OF"),
      ("rdfs:subPropertyOf", "SUBPROP_OF"),
      ("rdfs:domain", "DOMAIN"),
      ("rdfs:range", "RANGE"))).toDF("p", "rel")
    triples.filter(col("o_is_iri"))
      .join(broadcast(rels), "p")
      .select(col("s").as("src"), col("rel"), col("o").as("dst"))
      .distinct()
  }
}
