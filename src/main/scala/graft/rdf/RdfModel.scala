package graft.rdf

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType, StructField, StructType}

/** The core RDF relation: a triple table.
  *
  * Schema: `s` (subject IRI), `p` (predicate IRI), `o` (object lexical
  * form), `o_num` (double value when the object literal is numeric,
  * else null), `o_is_iri` (object is a resource, not a literal),
  * `lang` (literal language tag or null).
  *
  * Spark-first re-expression of the reference's node-store data model
  * (reference: pidb-rdf-engine/src/main/java/neo4j/structure,
  * pidb-rdf-import/src/main/java/semantics/DirectStatementLoader.java:156-182
  * maps literals → typed props, rdf:type → labels, IRIs → edges; here
  * everything stays one declarative relation and the property-graph
  * view is derived — see [[PropertyGraph]]).
  *
  * Scale posture: [[TripleStore]] writes this table once, clustered
  * by predicate, so a BGP pattern with a constant predicate skips
  * most of the store; the lexical/numeric split keeps filters
  * codegen-friendly (no casts in the hot path).
  */
object RdfModel {

  val schema: StructType = StructType(Seq(
    StructField("s", StringType, nullable = false),
    StructField("p", StringType, nullable = false),
    StructField("o", StringType, nullable = true),
    StructField("o_num", DoubleType, nullable = true),
    StructField("o_is_iri", BooleanType, nullable = false),
    StructField("lang", StringType, nullable = true)))

  /** Literal-object triple (optionally numeric, optionally language-tagged). */
  private def litT(s: Column, p: String, o: Column, num: Boolean = false,
                   lang: Column = lit(null).cast(StringType)): Column =
    struct(
      s.as("s"), lit(p).as("p"), o.cast(StringType).as("o"),
      (if (num) o.cast(DoubleType) else lit(null).cast(DoubleType)).as("o_num"),
      lit(false).as("o_is_iri"), lang.as("lang"))

  /** IRI-object triple (an edge in property-graph terms). */
  private def iriT(s: Column, p: String, o: Column): Column =
    struct(
      s.as("s"), lit(p).as("p"), o.cast(StringType).as("o"),
      lit(null).cast(DoubleType).as("o_num"),
      lit(true).as("o_is_iri"), lit(null).cast(StringType).as("lang"))

  private def uri(prefix: String, key: Column): Column =
    concat(lit(prefix + ":"), key.cast(StringType))

  /** Explode one source row into its triples with a single scan of the
    * source table (no repeated IO per predicate).
    */
  private def toTriples(df: DataFrame, triples: Seq[Column]): DataFrame =
    df.select(explode(array(triples: _*)).as("t")).select("t.*")

  /** Canonical RDF view of the TPC-H-ish test schema (SURVEY.md §5).
    * Deterministic: oracle SQL reconstructs any slice of it with plain
    * string concatenation over the original tables.
    */
  def tpchTriples(spark: SparkSession, sfDir: String): DataFrame =
    dimensionAndOrderTriples(spark, sfDir)
      .unionAll(toTriples(Tables.lineitem(spark, sfDir), lineitemTripleCols))

  /** The lineitem quad key — the URI-forming columns (see the line-URI
    * note below): rows sharing all four are the only way the derived
    * relation can contain duplicate triples.
    */
  val lineitemKey: Seq[String] =
    Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  /** tpchTriples with RDF SET semantics, without a triple-level
    * distinct over the exploded relation: every other source key is
    * unique, so those triples are duplicate-free by construction, and
    * only lineitem rows sharing a line URI — found with a groupBy over
    * a 4-int-column pruned scan whose tiny result broadcasts back —
    * pay a triple-level distinct. No full-row shuffle anywhere: the
    * dup probe shuffles 4 ints per row, and the semi/anti splits are
    * broadcast joins on re-scans of the (columnar, OS-cached) source.
    * At 100 TB that is the difference between re-reading a pruned
    * parquet column group and materializing the corpus through a
    * shuffle.
    */
  def tpchTriplesSet(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // spread the fact scan before the 9-way triple explode (r19, guide
    // §2.5): the test file is single-row-group parquet, so the explode
    // — 9 struct constructions + string concats per row, ~90 % of the
    // store build — otherwise runs on ONE task. Downstream is
    // order-safe: the store is a SET of triples, and every declared
    // aggregate over store numerics is integer-exact or rounded well
    // inside reassociation drift (audited r19; oracle-green after).
    val li = Tables.loadSpread(spark, sfDir, "lineitem")
    val dupKeys = li.select(lineitemKey.map(col): _*)
      .groupBy(lineitemKey.map(col): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).drop("__c")
    val dupRows = li.join(broadcast(dupKeys), lineitemKey, "left_semi")
    val uniqueRows = li.join(broadcast(dupKeys), lineitemKey, "left_anti")
    dimensionAndOrderTriples(spark, sfDir)
      .unionAll(toTriples(uniqueRows, lineitemTripleCols))
      .unionAll(toTriples(dupRows, lineitemTripleCols).distinct())
  }

  private def dimensionAndOrderTriples(spark: SparkSession,
                                       sfDir: String): DataFrame = {
    // spread before the per-row triple explode (see tpchTriplesSet);
    // sub-64 KB dims (nation, region, supplier) skip inside loadSpread
    val cust = Tables.loadSpread(spark, sfDir, "customer")
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val part = Tables.loadSpread(spark, sfDir, "part")
    val ord = Tables.loadSpread(spark, sfDir, "orders")

    val c = uri("cust", col("c_custkey"))
    val n = uri("nat", col("n_nationkey"))
    val r = uri("reg", col("r_regionkey"))
    val sup = uri("supp", col("s_suppkey"))
    val pt = uri("part", col("p_partkey"))
    val o = uri("ord", col("o_orderkey"))

    toTriples(cust, Seq(
      iriT(c, "rdf:type", lit(":Customer")),
      litT(c, ":name", col("c_name")),
      litT(c, ":acctbal", col("c_acctbal"), num = true),
      litT(c, ":mktsegment", col("c_mktsegment")),
      iriT(c, ":hasNation", uri("nat", col("c_nationkey")))))
    .unionAll(toTriples(nat, Seq(
      iriT(n, "rdf:type", lit(":Nation")),
      litT(n, ":name", col("n_name")),
      // language-tagged literals (rdf_lang_filter exercises these)
      litT(n, ":comment", concat(col("n_name"), lit(" comment")),
        lang = when(col("n_nationkey") % 2 === 0, "en").otherwise("fr")),
      iriT(n, ":inRegion", uri("reg", col("n_regionkey"))))))
    .unionAll(toTriples(reg, Seq(
      iriT(r, "rdf:type", lit(":Region")),
      litT(r, ":name", col("r_name")))))
    .unionAll(toTriples(supp, Seq(
      iriT(sup, "rdf:type", lit(":Supplier")),
      litT(sup, ":name", col("s_name")),
      litT(sup, ":acctbal", col("s_acctbal"), num = true),
      iriT(sup, ":hasNation", uri("nat", col("s_nationkey"))))))
    .unionAll(toTriples(part, Seq(
      iriT(pt, "rdf:type", lit(":Part")),
      litT(pt, ":name", col("p_name")),
      litT(pt, ":brand", col("p_brand")),
      litT(pt, ":ptype", col("p_type")),
      litT(pt, ":size", col("p_size"), num = true),
      litT(pt, ":retailprice", col("p_retailprice"), num = true))))
    .unionAll(toTriples(ord, Seq(
      iriT(o, "rdf:type", lit(":Order")),
      iriT(o, ":byCustomer", uri("cust", col("o_custkey"))),
      litT(o, ":totalprice", col("o_totalprice"), num = true),
      litT(o, ":orderdate", col("o_orderdate")),
      litT(o, ":orderstatus", col("o_orderstatus")),
      litT(o, ":orderpriority", col("o_orderpriority")))))
  }

  /** Lineitem triple columns. (orderkey, linenumber) is not unique in
    * the synthetic data; the full (ok, ln, pk, sk) quad is — the line
    * URI must carry it all or the RDF view loses row identity.
    */
  private def lineitemTripleCols: Seq[Column] = {
    val ln = concat(lit("line:"), col("l_orderkey").cast(StringType),
      lit("_"), col("l_linenumber").cast(StringType),
      lit("_"), col("l_partkey").cast(StringType),
      lit("_"), col("l_suppkey").cast(StringType))
    Seq(
      iriT(ln, "rdf:type", lit(":Lineitem")),
      iriT(ln, ":ofOrder", uri("ord", col("l_orderkey"))),
      iriT(ln, ":ofPart", uri("part", col("l_partkey"))),
      iriT(ln, ":bySupplier", uri("supp", col("l_suppkey"))),
      litT(ln, ":quantity", col("l_quantity"), num = true),
      litT(ln, ":extendedprice", col("l_extendedprice"), num = true),
      litT(ln, ":discount", col("l_discount"), num = true),
      litT(ln, ":returnflag", col("l_returnflag")),
      litT(ln, ":shipdate", col("l_shipdate")))
  }
}
