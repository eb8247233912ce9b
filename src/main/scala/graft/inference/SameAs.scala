package graft.inference

import graft.{Checkpoints, Regime}
import graft.graphx.{Analytics, LocalGraph}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType, StructField, StructType}

/** owl:sameAs identity resolution ("smushing"): every sameAs-connected
  * cluster of URIs collapses onto one canonical representative — the
  * entity-resolution micro-reasoner a linked-data import needs before
  * joins mean anything (the reference's reasoners resolve labels and
  * property hierarchies; identity is the remaining axis, and the one
  * that matters most when several sources describe the same entity
  * under different URIs).
  *
  * Scale shape: one bounded fetch ([[graft.Regime]]) of the store
  * decides where. A store of at most [[graft.Regime.budget]] rows is
  * rewritten on the driver from the fetched rows: union-find over its
  * sameAs links, then the subject/object rewrite and the set-dedup of
  * the touched rows. `infer_sameas_canon` at sf0.001 (1,050 rows)
  * fires 5 jobs instead of 13; with [[graft.pipeline.Dedup.minhashLsh]]
  * on the driver too, the `analytics` workload went from 2.21 to 3.38
  * `ops_per_s` on a 4-vCPU box. A larger store is rewritten in Spark
  * from a checkpoint of the relation the gate hands back: its link set
  * passes the gate (at sf0.1 the 30,000 benchmark links cluster on
  * the driver, a larger set runs GraphX CC), and the (uri → canon)
  * map, one narrow relation, feeds two key-equi left joins against
  * the store (subject, then IRI objects) plus one set-dedup of the
  * rows the collapse touched. All shuffles are keyed by URI; nothing
  * is quadratic in anything.
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
    *
    * A store that fits the regime gate ([[graft.Regime]]) is rewritten
    * on the driver and comes back as a local relation; a larger one is
    * rewritten in Spark from a checkpoint of the relation the gate
    * hands back and comes back checkpointed, so each consumer reads the
    * result instead of planning the rewrite again.
    */
  def canonicalize(spark: SparkSession, store: DataFrame): DataFrame =
    canonicalize(spark, store, Regime.budget)

  /** [[canonicalize]] at an explicit gate budget, which the link set's
    * gate shares; tests pass 0 to force the Spark side throughout.
    * Only a store of the engine's own column types is fetched; any
    * other runs the Spark side.
    */
  private[graft] def canonicalize(spark: SparkSession, store: DataFrame,
                                  budget: Long): DataFrame = {
    val triples = store.select(col("s"), col("p"), col("o"), col("o_num"),
      col("o_is_iri"), col("lang"))
    val typed = triples.schema.map(_.dataType) ==
      Seq(StringType, StringType, StringType, DoubleType, BooleanType, StringType)
    (if (typed) Regime.fetchIfSmall(triples, budget) else Left(triples)) match {
      case Right(rows) =>
        Regime.localRelation(triples, triples.schema, localCanonicalize(rows))
      // the rewrite reads its store more than once (the link slice,
      // both union legs): at sf0.1 it took 2.4-2.7 s from a checkpoint
      // of the gate's persisted relation, that checkpoint included,
      // and 3.0-3.2 s from the persisted relation itself
      case Left(kept) =>
        Checkpoints.tracked(sparkCanonicalize(spark, Checkpoints.tracked(kept), budget))
    }
  }

  /** [[sparkCanonicalize]]'s rows from the fetched (s, p, o, o_num,
    * o_is_iri, lang) rows: the untouched rows as they are, then the
    * touched ones deduped as a Spark distinct groups them (its keys
    * normalize every NaN to one NaN and -0.0 to 0.0).
    */
  private def localCanonicalize(rows: Array[Row]): Seq[Row] = {
    def iri(r: Row) = !r.isNullAt(4) && r.getBoolean(4)
    val links = rows.filter(r => r.get(1) == OWL_SAMEAS && iri(r))
      .map(r => Row(r.get(0), r.get(2)))
    val canon = new LocalGraph(links, StringType).canonicalMap
      .map(r => r.get(0) -> r.get(1)).toMap
    val canons = canon.values.toSet
    def normalized(v: Any): Any = v match {
      case d: Double if d.isNaN => Double.NaN
      case d: Double if d == 0.0 => 0.0
      case other => other
    }
    val untouched = Array.newBuilder[Row]
    val touched = mutable.LinkedHashSet.empty[Row]
    for (r <- rows if r.get(1) != null && r.get(1) != OWL_SAMEAS) {
      val (s, o) = (r.get(0), r.get(2))
      val sCanon = canon.get(s)
      val oCanon = if (iri(r)) canon.get(o) else None
      if (sCanon.isEmpty && oCanon.isEmpty && !canons(s) && !(iri(r) && canons(o)))
        untouched += r
      else touched += Row(sCanon.getOrElse(s), r.get(1), oCanon.getOrElse(o),
        normalized(r.get(3)), r.get(4), r.get(5))
    }
    untouched.result().toSeq ++ touched
  }

  private def sparkCanonicalize(spark: SparkSession, store: DataFrame,
                                budget: Long): DataFrame = {
    // identity links must join two RESOURCES; a malformed sameAs with
    // a literal object is dropped with the rest of the sameAs slice
    // but never seeds a cluster
    val m = canonicalMap(spark,
      store.filter(col("p") === OWL_SAMEAS && col("o_is_iri")), budget)
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
