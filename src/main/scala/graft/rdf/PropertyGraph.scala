package graft.rdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property-graph view derived from the triple relation — the
  * Spark-first counterpart of the reference's statement loader, which
  * materializes literals as node properties, rdf:type as labels, and
  * IRI-object triples as deduplicated relationships
  * (reference: pidb-rdf-import/src/main/java/semantics/DirectStatementLoader.java:156-182).
  *
  * Where the reference mutates a node store statement-at-a-time, this
  * is two declarative aggregations over the triple table — both plain
  * shuffles on `s` that scale linearly.
  */
object PropertyGraph {

  /** Nodes: uri, sorted label array, lexical property map, numeric
    * property map. Multi-valued properties — several literal triples
    * sharing (s, p) — are collapsed to the (lex, num) pair of the
    * MINIMUM lexical value, one value per key, and never an array:
    * the reference keeps all values per property
    * (pidb-rdf-import/src/main/java/semantics/MultiMetaNeo4jTrait.java)
    * and its non-multi loader is last-write-wins, but last-write is
    * order-dependent and meaningless under parallel ingest, so this
    * view chooses the order-free representative; ALL values remain
    * queryable as companion rows in the triple relation itself.
    * Pinned by PropertyGraphSpec's multi-valued test.
    */
  def nodes(triples: DataFrame): DataFrame = {
    val labels = triples
      .filter(col("p") === "rdf:type")
      .groupBy(col("s"))
      .agg(array_sort(collect_set(col("o"))).as("labels"))
    val props = triples
      .filter(!col("o_is_iri"))
      .groupBy(col("s"), col("p"))
      // struct-min keeps (lex, num) from ONE source triple — separate
      // mins could pair the lexical of one value with the numeric of
      // another on multi-valued properties
      .agg(min(struct(col("o"), col("o_num"))).as("m"))
      .select(col("s"), col("p"),
        col("m.o").as("lex"), col("m.o_num").as("num"))
      .groupBy(col("s"))
      .agg(
        map_from_entries(array_sort(collect_list(
          struct(col("p"), col("lex"))))).as("props"),
        map_from_entries(array_sort(collect_list(
          when(col("num").isNotNull, struct(col("p"), col("num")))))).as("props_num"))
    // both sides are keyed (and so co-partitioned) on s
    labels.join(props, Seq("s"), "full_outer")
      .select(col("s").as("uri"),
        coalesce(col("labels"), array().cast("array<string>")).as("labels"),
        col("props"), col("props_num"))
  }

  /** Multi-valued node view — the reference's MultiMetaNeo4jTrait
    * semantics (pidb-rdf-import/src/main/java/semantics/
    * MultiMetaNeo4jTrait.java): a repeated (s, p) keeps ALL its
    * values as an array property, where [[nodes]] collapses to the
    * min-lex representative. Values are SORTED (lexical, then
    * numeric) so re-imports and any execution order produce the same
    * arrays — order-free determinism instead of the trait's
    * ingest-order append. `props` maps each property to its sorted
    * lexical array; `props_num` to the numeric companions in the SAME
    * order (null where a value has none), so index i pairs across
    * both maps and [[toTriplesMulti]] round-trips losslessly.
    * Same scale shape as [[nodes]]: two keyed aggregations on s.
    */
  def nodesMulti(triples: DataFrame): DataFrame = {
    val labels = triples
      .filter(col("p") === "rdf:type")
      .groupBy(col("s"))
      .agg(array_sort(collect_set(col("o"))).as("labels"))
    val props = triples
      .filter(!col("o_is_iri"))
      .groupBy(col("s"), col("p"))
      // set-of-structs keeps each distinct (lex, num) VALUE once;
      // array_sort on the struct orders by lexical then numeric
      .agg(array_sort(collect_set(struct(col("o"), col("o_num")))).as("sv"))
      .select(col("s"), col("p"),
        expr("transform(sv, x -> x.o)").as("vals"),
        expr("transform(sv, x -> x.o_num)").as("nums"))
      .groupBy(col("s"))
      .agg(
        map_from_entries(array_sort(collect_list(
          struct(col("p"), col("vals"))))).as("props"),
        map_from_entries(array_sort(collect_list(
          struct(col("p"), col("nums"))))).as("props_num"))
    labels.join(props, Seq("s"), "full_outer")
      .select(col("s").as("uri"),
        coalesce(col("labels"), array().cast("array<string>")).as("labels"),
        col("props"), col("props_num"))
  }

  /** Edges: deduplicated (src, rel, dst) from IRI-object triples;
    * rdf:type statements become labels, not edges.
    */
  def edges(triples: DataFrame): DataFrame =
    triples
      .filter(col("o_is_iri") && col("p") =!= "rdf:type")
      .select(col("s").as("src"), col("p").as("rel"), col("o").as("dst"))
      .distinct()

  /** The inverse mapping: a property graph (ANY nodes/edges frames,
    * not necessarily RDF-born) serialized back to the triple relation
    * — the reference's /cypher endpoint direction, which exports plain
    * LPG query results as RDF
    * (pidb-rdf-import/src/main/java/semantics/extension/RDFEndpoint.java:50-99).
    * Labels become rdf:type, properties become literal triples (with
    * the numeric companion when the property has one), edges become
    * IRI-object triples. Three narrow projections + a union — no
    * shuffle at all; language tags don't exist on LPG properties, so
    * exported literals are plain (the reference's keepLangTag=false
    * behavior).
    */
  def toTriples(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val typeTriples = nodes
      .select(col("uri").as("s"), explode(col("labels")).as("o"))
      .select(col("s"), lit("rdf:type").as("p"), col("o"),
        lit(null).cast("double").as("o_num"), lit(true).as("o_is_iri"),
        lit(null).cast("string").as("lang"))
    val propTriples = nodes
      .select(col("uri").as("s"), col("props_num"),
        explode(col("props")).as(Seq("p", "o")))
      .select(col("s"), col("p"), col("o"),
        element_at(col("props_num"), col("p")).as("o_num"),
        lit(false).as("o_is_iri"), lit(null).cast("string").as("lang"))
    val edgeTriples = edges
      .select(col("src").as("s"), col("rel").as("p"), col("dst").as("o"),
        lit(null).cast("double").as("o_num"), lit(true).as("o_is_iri"),
        lit(null).cast("string").as("lang"))
    typeTriples.unionByName(propTriples).unionByName(edgeTriples)
  }

  /** Inverse of [[nodesMulti]]: every array element becomes its own
    * literal triple, re-paired with its numeric companion by POSITION
    * (the two maps share the sort order), so
    * nodesMulti → toTriplesMulti is lossless over literal triples —
    * the round-trip the single-valued view deliberately is not.
    */
  def toTriplesMulti(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val typeTriples = nodes
      .select(col("uri").as("s"), explode(col("labels")).as("o"))
      .select(col("s"), lit("rdf:type").as("p"), col("o"),
        lit(null).cast("double").as("o_num"), lit(true).as("o_is_iri"),
        lit(null).cast("string").as("lang"))
    val propTriples = nodes
      .select(col("uri").as("s"), col("props_num"),
        explode(col("props")).as(Seq("p", "vals")))
      .select(col("s"), col("p"), col("props_num"),
        posexplode(col("vals")).as(Seq("pos", "o")))
      .select(col("s"), col("p"), col("o"),
        element_at(element_at(col("props_num"), col("p")),
          col("pos") + lit(1)).as("o_num"),
        lit(false).as("o_is_iri"), lit(null).cast("string").as("lang"))
    val edgeTriples = edges
      .select(col("src").as("s"), col("rel").as("p"), col("dst").as("o"),
        lit(null).cast("double").as("o_num"), lit(true).as("o_is_iri"),
        lit(null).cast("string").as("lang"))
    typeTriples.unionByName(propTriples).unionByName(edgeTriples)
  }
}
