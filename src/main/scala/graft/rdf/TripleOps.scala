package graft.rdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Store mutation as derivation: the reference's write procedures
  * (importRDF onto an existing store, mapping add/drop —
  * pidb-rdf-import/src/main/java/semantics/RDFImport.java:50,
  * MappingUtils.java:21-122) mutate a Neo4j store in place; the Spark
  * re-expression derives a NEW immutable triple relation, which is
  * what a data-lake deployment actually does (write the delta, compact
  * on merge).
  *
  * Set semantics ride SQL EXCEPT (null-safe, distinct), so re-adding
  * an overlapping graph is idempotent and removal never leaves
  * duplicates behind. At 100 TB `add` is the merge-on-write compaction
  * path: one shuffle keyed by the full term.
  */
object TripleOps {

  /** RDF graph union: store ∪ delta with set semantics. The anti-slice
    * (delta triples not already present) is computed with EXCEPT —
    * null-safe on the lang/o_num columns, where an equi-join would
    * drop null = null matches and duplicate language-less literals.
    */
  def add(store: DataFrame, delta: DataFrame): DataFrame =
    store.unionByName(delta.select(store.columns.map(col): _*).except(store))

  /** Remove every triple matching the constant pattern (null = wildcard
    * position, like the reference endpoint's node-delete semantics).
    * A pure filter — narrow, no shuffle at any scale.
    *
    * The object position matches by LEXICAL VALUE by default — a
    * deliberate wildcard over term kind, so `remove(o = "p:2")`
    * deletes both the IRI edge and an identically-spelled plain
    * literal. When term identity matters (the semantics the SPARQL
    * UPDATE `DELETE WHERE` path implements), pass `oIsIri` to pin the
    * object's kind: `Some(true)` touches only the IRI term,
    * `Some(false)` only the literal.
    */
  def remove(store: DataFrame, s: String = null, p: String = null,
             o: String = null, oIsIri: Option[Boolean] = None): DataFrame = {
    val conds = Seq(
      Option(s).map(col("s") === _),
      Option(p).map(col("p") === _),
      Option(o).map(v => oIsIri.foldLeft(col("o") === v)(
        (c, iri) => c && col("o_is_iri") === iri))).flatten
    require(conds.nonEmpty, "remove requires at least one bound position")
    store.filter(!conds.reduce(_ && _))
  }

  /** Graph difference: store ∖ other (term-identity set minus). */
  def subtract(store: DataFrame, other: DataFrame): DataFrame =
    store.except(other.select(store.columns.map(col): _*))

  // ---- named-graph management over the quad relation ----------------
  // SPARQL 1.1 Update §3.2 graph-management forms, each a derivation
  // over the (g, s, p, o, …) quad dataset. CLEAR/MOVE are narrow
  // filters; COPY/ADD pay one set-union dedup on the touched graphs
  // only (the rest of the dataset passes through untouched).

  /** CLEAR GRAPH g: drop the named graph's quads. */
  def clearGraph(quads: DataFrame, g: String): DataFrame =
    quads.filter(col("g") =!= g)

  /** ADD g1 TO g2: union g1's triples into g2 (set semantics). */
  def addGraph(quads: DataFrame, from: String, to: String): DataFrame = {
    val merged = quads.filter(col("g") === to)
      .unionByName(quads.filter(col("g") === from).withColumn("g", lit(to)))
      .distinct()
    quads.filter(col("g") =!= to).unionByName(merged)
  }

  /** COPY g1 TO g2: replace g2 with g1's triples. */
  def copyGraph(quads: DataFrame, from: String, to: String): DataFrame =
    quads.filter(col("g") =!= to)
      .unionByName(quads.filter(col("g") === from).withColumn("g", lit(to)))

  /** MOVE g1 TO g2: COPY then drop the source graph. */
  def moveGraph(quads: DataFrame, from: String, to: String): DataFrame =
    copyGraph(quads, from, to).filter(col("g") =!= from)
}
