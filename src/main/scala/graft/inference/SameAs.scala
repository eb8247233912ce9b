package graft.inference

import graft.{Checkpoints, Regime}
import graft.graphx.{Analytics, LocalGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** owl:sameAs identity resolution ("smushing"): every sameAs-connected
  * cluster of URIs collapses onto one canonical representative — the
  * entity-resolution micro-reasoner a linked-data import needs before
  * joins mean anything (the reference's reasoners resolve labels and
  * property hierarchies; identity is the remaining axis, and the one
  * that matters most when several sources describe the same entity
  * under different URIs).
  *
  * Scale shape: connected components run on the sameAs edge set ONLY
  * (tiny next to the store — identity links, not data). One bounded
  * fetch ([[graft.Regime]]) decides where: a link set of at most
  * [[graft.Regime.budget]] rows clusters by union-find on the driver
  * (at sf0.1 the 30,000 benchmark links do), a larger one by GraphX
  * CC. Either way the (uri → canon) map is one narrow
  * relation, and the rewrite stays in Spark: two key-equi left joins
  * against the store (subject, then IRI objects) plus one set-dedup
  * of the merged result. All shuffles are keyed by URI; nothing is
  * quadratic in anything.
  */
object SameAs {

  val OWL_SAMEAS = "owl:sameAs"

  /** (uri, canon) for every URI that appears in a sameAs link; canon
    * is the component's minimum URI (deterministic on any cluster,
    * like [[Analytics.connectedComponents]]'s naming). Transitive and
    * symmetric by construction: components ignore edge direction, so
    * `a sameAs b . b sameAs c` lands all three on one canon. Links
    * that fit the regime gate ([[graft.Regime]]) cluster by union-find
    * on the driver and come back as a local relation; more links run
    * GraphX CC and come back checkpointed.
    */
  def canonicalMap(spark: SparkSession, sameAs: DataFrame): DataFrame =
    canonicalMap(spark, sameAs, Regime.budget)

  private[graft] def canonicalMap(spark: SparkSession, sameAs: DataFrame,
                                  budget: Long): DataFrame =
    Regime.fetchIfSmall(sameAs.select(col("s"), col("o")), budget) match {
      case Right(rows) =>
        val uri = sameAs.select(col("s").as("uri"))
          .unionAll(sameAs.select(col("o").as("uri"))).schema.head
        Regime.localRelation(sameAs,
          StructType(Seq(uri, StructField("canon", uri.dataType, nullable = true))),
          new LocalGraph(rows, uri.dataType).canonicalMap)
      case Left(kept) => Checkpoints.tracked(sparkCanonicalMap(spark, kept))
    }

  private def sparkCanonicalMap(spark: SparkSession, sameAs: DataFrame): DataFrame = {
    val verts = sameAs.select(col("s").as("uri"))
      .unionAll(sameAs.select(col("o").as("uri")))
      .distinct()
      .select(xxhash64(col("uri")).as("id"), col("uri"))
    val comp = Analytics.componentsById(spark,
      sameAs.select(xxhash64(col("s")).as("src"), xxhash64(col("o")).as("dst")))
    // per-component canon via groupBy + join back, NOT a window: real
    // identity graphs are one giant component plus dust, and a window
    // over comp sorts the whole blob inside ONE task; the groupBy
    // partial-aggregates map-side (min folds before the shuffle) and
    // the join back is a keyed equi-join AQE can skew-split
    val membership = verts.join(comp, Seq("id"))
    val canons = membership.groupBy(col("comp"))
      .agg(min(col("uri")).as("canon"))
    membership.join(canons, Seq("comp"))
      .select(col("uri"), col("canon"))
      .filter(col("uri") =!= col("canon"))
  }

  /** Rewrite the store onto canonical URIs: subjects and IRI objects
    * that appear in a sameAs cluster are replaced by the cluster's
    * canon; the sameAs triples themselves are dropped (they carry no
    * information after the merge); duplicates created by the collapse
    * dedup with set semantics. Literals are never rewritten — a
    * literal spelled like a clustered URI is a different RDF term,
    * which is why the object join also keys on o_is_iri.
    *
    * CONTRACT: the input store must already be a SET of triples. The
    * canon-neighborhood-scoped dedup below only removes duplicates
    * the COLLAPSE creates (a rewritten row landing on an existing
    * canon-keyed row); pre-existing duplicates in the untouched bulk
    * pass through — the r16 full-store distinct that silently
    * repaired them was the sf1 superlinear term and is deliberately
    * gone. The engine's canonical store holds the invariant
    * ([[graft.rdf.RdfModel.tpchTriplesSet]] dedups at build, and the
    * derived slices are filters of that set); a caller feeding a raw
    * parse or any other external frame must `distinct()` it first.
    */
  def canonicalize(spark: SparkSession, store: DataFrame): DataFrame = {
    // identity links must join two RESOURCES; a malformed sameAs with
    // a literal object is dropped with the rest of the sameAs slice
    // but never seeds a cluster
    val m = canonicalMap(spark,
      store.filter(col("p") === OWL_SAMEAS && col("o_is_iri")))
    val base = store.filter(col("p") =!= OWL_SAMEAS)
    val ms = m.select(col("uri").as("s"), col("canon").as("__s_canon"))
    val mo = m.select(col("uri").as("__o_uri"), col("canon").as("__o_canon"))
    // canon-membership flags: a collapse-created duplicate can only
    // pair a REWRITTEN row with a row already keyed on a canon URI
    // (subject, or IRI object — a literal spelled like a canon is a
    // different term and never collides), so only that neighborhood
    // pays the wide-row set-dedup below
    val cs = m.select(col("canon").as("s")).distinct()
      .withColumn("__cs", lit(true))
    val co = m.select(col("canon").as("__co_uri")).distinct()
      .withColumn("__co", lit(true))
    val marked = base
      .join(ms, Seq("s"), "left_outer")
      .join(mo, base("o") === mo("__o_uri") && base("o_is_iri"), "left_outer")
      .join(cs, Seq("s"), "left_outer")
      .join(co, base("o") === co("__co_uri") && base("o_is_iri"), "left_outer")
    val rewritten = marked.select(
      coalesce(col("__s_canon"), col("s")).as("s"),
      col("p"),
      coalesce(col("__o_canon"), col("o")).as("o"),
      col("o_num"), col("o_is_iri"), col("lang"),
      (col("__s_canon").isNotNull || col("__o_canon").isNotNull ||
        col("__cs").isNotNull || col("__co").isNotNull).as("__touched"))
    // the untouched bulk was a set before the rewrite and stays one —
    // at scale this is ~the whole store (identity clusters are sparse
    // next to data), so skipping its dedup shuffle is the difference
    // between a canon-neighborhood-sized distinct and a store-sized
    // one (the r16 sf1 finding: the full-store wide-string distinct
    // was the superlinear term)
    rewritten.filter(!col("__touched")).drop("__touched")
      .unionByName(
        rewritten.filter(col("__touched")).drop("__touched").distinct())
  }
}
