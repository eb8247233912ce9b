package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RDFS micro-reasoners over the triple relation — Spark-first
  * re-expressions of the reference's procedures (reference:
  * pidb-rdf-import/src/main/java/semantics/inference/MicroReasoners.java:
  * getNodesWithLabel :31, getRels :79, hasLabel :101). The label and
  * relation reasoners filter the data with `isin` on the static
  * hierarchy that [[Ontology]] closed on the driver, instead of a
  * per-query Cypher walk: they fire no Spark job of their own.
  */
object Reasoner {

  private def typeTriples(triples: DataFrame): DataFrame =
    triples.filter(col("p") === "rdf:type")
      .select(col("s"), col("o"))

  /** Nodes carrying `label` directly or via any subclass of it. */
  def nodesWithLabel(spark: SparkSession, triples: DataFrame, label: String): DataFrame =
    typeTriples(triples)
      .filter(col("o").isin(Ontology.below(Ontology.subClassClosure, label): _*))
      .select(col("s").as("uri"))
      .distinct()

  /** RDFS entailment rules rdfs2/rdfs3: a property's rdfs:domain
    * types every subject that uses it, its rdfs:range every IRI
    * object (W3C RDF 1.1 Semantics §9.2.1 — the forward-chaining step
    * the reference's importer sets up DOMAIN/RANGE edges for). One
    * broadcast of the ontology-sized assertion tables onto the edge
    * scan; distinct on the (node, type) output.
    */
  def typesFromDomainRange(spark: SparkSession, edges: DataFrame): DataFrame = {
    val dom = broadcast(spark.createDataFrame(Ontology.domains).toDF("rel", "t"))
    val rng = broadcast(spark.createDataFrame(Ontology.ranges).toDF("rel", "t"))
    edges.join(dom, "rel").select(col("src").as("uri"), col("t"))
      .unionAll(edges.join(rng, "rel").select(col("dst").as("uri"), col("t")))
      .distinct()
  }

  /** OWL 2 RL prp-inv1/prp-inv2: for each declared owl:inverseOf pair
    * (p, q), an edge s-p-o entails o-q-s and vice versa. The inverse
    * table (BOTH directions of each declaration) is ontology-sized
    * metadata broadcast onto the edge scan — one narrow pass, the
    * entailed edges never shuffle.
    */
  def inverseEdges(spark: SparkSession, edges: DataFrame): DataFrame = {
    // .distinct twice: the pair list so a symmetric declaration
    // (p, p) — or a redundant (p, q) + (q, p) — joins once, and the
    // output so one entailment reached via two routes emits one row
    // (the sibling reasoners all end in distinct for the same reason)
    val pairs = (Ontology.inverseOf ++ Ontology.inverseOf.map(_.swap)).distinct
    val inv = broadcast(spark.createDataFrame(pairs).toDF("rel", "inv_rel"))
    edges.join(inv, "rel")
      .select(col("dst").as("src"), col("inv_rel").as("rel"),
        col("src").as("dst"))
      .distinct()
  }

  /** OWL 2 RL prp-spo2: a property-chain axiom p₁ ∘ p₂ ∘ … ⊑ r
    * entails an r-edge along every chain instance (the rule
    * subPropertyOf cannot express — it rewrites ONE predicate, a
    * chain composes several). Each step is a predicate slice of the
    * store composed by an equi-join on the hop node — k−1 keyed
    * joins for a k-step chain, a query-constant plan regardless of
    * graph size, never a closure; final distinct because two chain
    * instances can entail the same pair.
    */
  def propertyChain(triples: DataFrame, chain: Seq[String],
                    entailed: String): DataFrame = {
    val hops = chain.map(p => triples.filter(col("p") === p)
      .select(col("s").as("sub"), col("o").as("sup")))
    hops.reduceLeft { (acc, nxt) =>
      acc.join(nxt.select(col("sub").as("sup"), col("sup").as("nxt")), "sup")
        .select(col("sub"), col("nxt").as("sup"))
    }
      .select(col("sub").as("s"), lit(entailed).as("p"), col("sup").as("o"))
      .distinct()
  }

  /** OWL 2 RL prp-trp over each declared owl:TransitiveProperty p:
    * the data edges of p — including the rdfs7 subproperty lift, so a
    * :hasNation edge participates in a :locatedIn chain — close
    * transitively and every closure pair is entailed AT p. Unlike the
    * broadcast reasoners above, the closure here runs over DATA-scale
    * edges: [[Closure.transitive]]'s path doubling costs O(log depth)
    * keyed self-join rounds, and the output is bounded by
    * depth × |edges| for a hierarchy-shaped relation (each node's
    * ancestor set is its path to the root) — the regime geo/part-of
    * containment lives in. A non-hierarchical transitive relation
    * (dense reachability) would need the SCC-condensation route
    * instead; that trade is the operator's documented contract.
    */
  def transitiveEdges(spark: SparkSession, edges: DataFrame): DataFrame =
    Ontology.transitiveProps.map { p =>
      val base = rels(spark, edges, p)
        .select(col("src").as("sub"), col("dst").as("sup"))
      Closure.transitive(base)
        .select(col("sub").as("src"), lit(p).as("rel"), col("sup").as("dst"))
    }.reduce(_ unionAll _).distinct()

  /** Edges whose relation is `rel` or any subproperty of it. */
  def rels(spark: SparkSession, edges: DataFrame, rel: String): DataFrame =
    edges.filter(col("rel").isin(Ontology.below(Ontology.subPropertyClosure, rel): _*))
      .select(col("src"), col("rel"), col("dst"))

  /** The reference's node-anchored form of [[rels]]: relationships of
    * `rel` or any subproperty touching `node`, direction-filtered —
    * ">" outgoing, "<" incoming, "" both, each row direction-tagged
    * (MicroReasoners.getRels :79-94). The node filter lands on the
    * edge scan, so only the anchored slice survives the subproperty
    * filter.
    */
  def relsOf(spark: SparkSession, edges: DataFrame, node: String,
             rel: String, dir: String = ""): DataFrame = {
    val all = rels(spark, edges, rel)
    val out = all.filter(col("src") === node)
      .select(lit(">").as("dir"), col("rel"), col("dst").as("other"))
    val in = all.filter(col("dst") === node)
      .select(lit("<").as("dir"), col("rel"), col("src").as("other"))
    dir match {
      case ">" => out
      case "<" => in
      case _ => out.unionByName(in)
    }
  }

  /** Nodes linked by a `memberRel` edge into category `cat` or any
    * category below it — the reference's category micro-reasoner
    * (MicroReasoners.getNodesLinkedTo :54-75). Unlike the label
    * reasoners, the hierarchy here is category-to-category edges in
    * the DATA (`catRel`), not the static ontology, so it closes per
    * call: [[Closure.below]]'s reverse BFS from `cat` runs on the
    * driver when the category edges are few (a local relation), else
    * in Spark; either result is category-sized, so it broadcasts.
    */
  def nodesInCategory(spark: SparkSession, edges: DataFrame, cat: String,
                      catRel: String, memberRel: String): DataFrame = {
    val catEdges = edges.filter(col("rel") === catRel)
      .select(col("src").as("sub"), col("dst").as("sup"))
    val cats = broadcast(Closure.below(catEdges, cat))
    edges.filter(col("rel") === memberRel)
      .join(cats, col("dst") === col("c"), "left_semi")
      .select(col("src").as("uri"))
      .distinct()
  }

  /** For every typed node: does it carry `label` (incl. implied)? */
  def hasLabel(spark: SparkSession, triples: DataFrame, label: String): DataFrame =
    typeTriples(triples)
      .groupBy(col("s").as("uri"))
      .agg(max(coalesce(
        col("o").isin(Ontology.below(Ontology.subClassClosure, label): _*),
        lit(false))).as("has"))
}
