package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.FastHash.md5 // shadows functions.md5 → Md5Fast (r19)

/** SURVEY §A: RDF data model & ingestion operators as driver-checkable
  * entries (triple build, N-Triples round-trip, property-graph view,
  * URI functions, language filter, export, Turtle parse).
  */
object RdfQueries {

  /** The dimension-triple relation (no lineitem facts) as one SQL CTE
    * body — shared by every oracle that must replicate the whole
    * store slice (void stats, graph digest).
    */
  private val DIM_T: String =
    """t AS (
      |  SELECT 'cust:'||c_custkey AS s, 'rdf:type' AS p, ':Customer' AS o FROM customer
      |  UNION ALL SELECT 'cust:'||c_custkey, ':name', c_name FROM customer
      |  UNION ALL SELECT 'cust:'||c_custkey, ':acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
      |  UNION ALL SELECT 'cust:'||c_custkey, ':mktsegment', c_mktsegment FROM customer
      |  UNION ALL SELECT 'cust:'||c_custkey, ':hasNation', 'nat:'||c_nationkey FROM customer
      |  UNION ALL SELECT 'nat:'||n_nationkey, 'rdf:type', ':Nation' FROM nation
      |  UNION ALL SELECT 'nat:'||n_nationkey, ':name', n_name FROM nation
      |  UNION ALL SELECT 'nat:'||n_nationkey, ':comment', n_name||' comment' FROM nation
      |  UNION ALL SELECT 'nat:'||n_nationkey, ':inRegion', 'reg:'||n_regionkey FROM nation
      |  UNION ALL SELECT 'reg:'||r_regionkey, 'rdf:type', ':Region' FROM region
      |  UNION ALL SELECT 'reg:'||r_regionkey, ':name', r_name FROM region
      |  UNION ALL SELECT 'supp:'||s_suppkey, 'rdf:type', ':Supplier' FROM supplier
      |  UNION ALL SELECT 'supp:'||s_suppkey, ':name', s_name FROM supplier
      |  UNION ALL SELECT 'supp:'||s_suppkey, ':acctbal', CAST(s_acctbal AS VARCHAR) FROM supplier
      |  UNION ALL SELECT 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey FROM supplier
      |  UNION ALL SELECT 'part:'||p_partkey, 'rdf:type', ':Part' FROM part
      |  UNION ALL SELECT 'part:'||p_partkey, ':name', p_name FROM part
      |  UNION ALL SELECT 'part:'||p_partkey, ':brand', p_brand FROM part
      |  UNION ALL SELECT 'part:'||p_partkey, ':ptype', p_type FROM part
      |  UNION ALL SELECT 'part:'||p_partkey, ':size', CAST(p_size AS VARCHAR) FROM part
      |  UNION ALL SELECT 'part:'||p_partkey, ':retailprice', CAST(p_retailprice AS VARCHAR) FROM part
      |  UNION ALL SELECT 'ord:'||o_orderkey, 'rdf:type', ':Order' FROM orders
      |  UNION ALL SELECT 'ord:'||o_orderkey, ':byCustomer', 'cust:'||o_custkey FROM orders
      |  UNION ALL SELECT 'ord:'||o_orderkey, ':totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'ord:'||o_orderkey, ':orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'ord:'||o_orderkey, ':orderstatus', o_orderstatus FROM orders
      |  UNION ALL SELECT 'ord:'||o_orderkey, ':orderpriority', o_orderpriority FROM orders)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // canonical triple view — customer slice, all six columns
    "rdf_build_triples" -> { (s, dir) =>
      TripleStore.triples(s, dir).filter(col("s").startsWith("cust:"))
    },
    // distributed N-Triples writer → parser → query (supplier slice).
    // The checkpoint between format and parse is the file boundary a
    // real round-trip has: fused, the single codegen method crosses
    // janino's 64 KB limit and the whole stage drops to interpreted
    // eval (plus a ~2s compile-fail penalty per run).
    "rdf_ntriples_roundtrip" -> { (s, dir) =>
      val nt = graft.Checkpoints.tracked(
        NTriples.format(TripleStore.dimensionTriples(s, dir)))
      NTriples.parse(nt)
        .filter(col("s").startsWith("supp:") && col("p").isin(":name", ":acctbal"))
    },
    // DirectStatementLoader semantics: labels + typed props, URIs
    // shortened through the auto-minted namespace registry
    "rdf_property_graph_nodes" -> { (s, dir) =>
      val triples = TripleStore.triples(s, dir)
      val nodes = PropertyGraph.nodes(triples)
      val reg = Namespaces.registry(triples.select(col("s").as("u")), col("u"))
      Namespaces.shorten(nodes, reg, "uri")
        .filter(array_contains(col("labels"), ":Customer"))
        .select(
          col("uri"),
          array_join(col("labels"), "|").as("labels"),
          element_at(col("props"), ":name").as("nm"),
          element_at(col("props_num"), ":acctbal").as("bal"))
    },
    // multi-valued (s, p) property semantics — the reference's
    // MultiMetaNeo4jTrait keeps ALL values of a repeated property;
    // the default nodes() view keeps the min-lex representative
    // (documented divergence, VERDICT r11 gap #2). Customer nodes
    // carry one :orderpriority value per DISTINCT priority among
    // their orders (naturally multi-valued) beside the single-valued
    // :name; the array view keeps every value, sorted so the arrays
    // are order-free and re-import-stable (r12)
    "rdf_property_graph_multival" -> { (s, dir) =>
      val ord = graft.Tables.orders(s, dir)
      val cust = graft.Tables.customer(s, dir)
      def lt(s0: Column, p0: String, o0: Column) =
        Seq(s0.as("s"), lit(p0).as("p"), o0.as("o"),
          lit(null).cast("double").as("o_num"), lit(false).as("o_is_iri"),
          lit(null).cast("string").as("lang"))
      val t = ord.select(lt(concat(lit("cust:"), col("o_custkey")),
          ":orderpriority", col("o_orderpriority")): _*)
        .unionAll(cust.select(lt(concat(lit("cust:"), col("c_custkey")),
          ":name", col("c_name")): _*))
      PropertyGraph.nodesMulti(t)
        .select(col("uri"), explode(col("props")).as(Seq("p", "va")))
        .select(col("uri"), col("p"),
          size(col("va")).cast("long").as("n_vals"),
          array_join(col("va"), "|").as("vals"))
    },
    // IRI-object triples → deduplicated edges; per-relation counts
    "rdf_property_graph_edges" -> { (s, dir) =>
      PropertyGraph.edges(TripleStore.triples(s, dir))
        .groupBy(col("rel")).agg(count(lit(1)).as("cnt"))
    },
    "rdf_uri_functions" -> { (s, dir) =>
      TripleStore.dimensionTriples(s, dir)
        .filter(col("s").startsWith("nat:") || col("s").startsWith("reg:"))
        .select(col("s")).distinct()
        .select(col("s"),
          UriFunctions.localName(col("s")).as("local"),
          UriFunctions.namespace(col("s")).as("ns"))
    },
    // ingest-time literal language filter: keep IRIs, untagged
    // literals, and literals tagged with the requested language
    "rdf_lang_filter" -> { (s, dir) =>
      TripleStore.triples(s, dir)
        .filter(col("o_is_iri") || col("lang").isNull || col("lang") === "en")
        .filter(col("p") === ":comment")
        .select(col("s"), col("o"), col("lang"))
    },
    // property graph → N-Triples serialization (nation/region subgraph)
    "rdf_export_ntriples" -> { (s, dir) =>
      NTriples.format(TripleStore.dimensionTriples(s, dir)
        .filter(col("s").startsWith("nat:") || col("s").startsWith("reg:")))
    },
    // import preview (ref RDFImport.previewRDF): bound the RAW lines
    // first (per-partition top-K merge, no global sort), parse only
    // the preview slice — the rest of the corpus is never parsed
    "rdf_import_preview" -> { (s, dir) =>
      val nt = NTriples.format(TripleStore.dimensionTriples(s, dir)
        .filter(col("s").startsWith("nat:")))
      NTriples.parse(nt.orderBy(col("line")).limit(30))
        .select(col("s"), col("p"), col("o"))
    },
    // export endpoint, Turtle flavor (ref RDFEndpoint serializes the
    // graph in multiple RDF formats; N-Triples flavor above)
    "rdf_export_turtle" -> { (s, dir) =>
      Turtle.format(TripleStore.dimensionTriples(s, dir)
        .filter(col("s").startsWith("reg:")))
    },
    // the auto-minted namespace registry itself (ref MappingUtils /
    // namespace map handling)
    "rdf_namespace_registry" -> { (s, dir) =>
      val t = TripleStore.triples(s, dir)
      Namespaces.registry(t.select(col("s").as("u")), col("u"))
    },
    // JSON-LD subset: flat node objects (one per line) → triples
    "rdf_jsonld_parse" -> { (s, dir) =>
      val lines = graft.Tables.nation(s, dir).select(to_json(struct(
        concat(lit("nat:"), col("n_nationkey")).as("@id"),
        struct(lit(":Nation").as("@id")).as("rdf:type"),
        col("n_name").as(":name"),
        struct(concat(col("n_name"), lit(" comment")).as("@value"),
          when(col("n_nationkey") % 2 === 0, "en").otherwise("fr")
            .as("@language")).as(":comment"),
        col("n_regionkey").as(":regionkey"))).as("line"))
      JsonLd.parse(s, lines)
    },
    // TriG named graphs (ref RDFImport.java:46): quads round-trip
    // through the line-splittable `<g> { s p o . }` subset
    "rdf_trig_parse" -> { (s, dir) =>
      val t = TripleStore.dimensionTriples(s, dir)
      val quads = t
        .filter(col("s").startsWith("nat:") && col("p") === ":name")
        .withColumn("g", lit("g:nation"))
        .unionAll(t.filter(col("s").startsWith("reg:") && col("p") === ":name")
          .withColumn("g", lit("g:region")))
        .select(col("g"), col("s"), col("p"), col("o"),
          col("o_num"), col("o_is_iri"), col("lang"))
      // checkpoints = the file boundary plus the unwrap/parse split;
      // see rdf_ntriples_roundtrip and TriG.parse's barrier doc
      TriG.parse(graft.Checkpoints.tracked(TriG.format(quads)),
          barrier = graft.Checkpoints.tracked)
        .select(col("g"), col("s"), col("o"))
    },
    // N-Quads: graph as a fourth term — the round-trip mixes a
    // literal+graph slice, a default-graph IRI-object slice (the
    // object/graph ambiguity case), and a typed-literal+graph slice
    "rdf_nquads_roundtrip" -> { (s, dir) =>
      val t = TripleStore.dimensionTriples(s, dir)
      val quads = t
        .filter(col("s").startsWith("nat:") && col("p") === ":name")
        .withColumn("g", lit("g:nation"))
        .unionAll(t.filter(col("s").startsWith("supp:") && col("p") === ":hasNation")
          .withColumn("g", lit("")))
        .unionAll(t.filter(col("s").startsWith("cust:") && col("p") === ":acctbal")
          .withColumn("g", lit("g:bal")))
        .select(col("g"), col("s"), col("p"), col("o"),
          col("o_num"), col("o_is_iri"), col("lang"))
      // materialize the formatted lines at the format/parse boundary
      // (what a real file round-trip does): fusing the writer's and
      // the parser's expression trees into ONE lineage made Catalyst
      // optimize+codegen a multi-megabyte plan — seconds of driver
      // time for kilobytes of data — while a line leaf plans in ms
      val lines = graft.Checkpoints.tracked(NQuads.format(quads))
      // second barrier inside parse: the quad unwrap fused with the
      // triple parse crosses janino's 64 KB limit (see NQuads.parse)
      NQuads.parse(lines, barrier = graft.Checkpoints.tracked)
        .select(col("g"), col("s"), col("p"),
          when(col("o_num").isNull, col("o")).otherwise(lit("")).as("o"),
          col("o_num").as("num"))
    },
    // DESCRIBE-a-node endpoint lookup (ref RDFEndpoint.java:210):
    // outgoing star + incoming edges, direction-tagged
    "rdf_describe" -> { (s, dir) =>
      Endpoint.describe(TripleStore.triples(s, dir), "nat:1")
        .select(col("dir"), col("s"), col("p"), col("o"))
    },
    // JSON-LD writer → parser round-trip (ref RDFEndpoint format
    // negotiation; jsonld_parse covers external input above)
    "rdf_jsonld_roundtrip" -> { (s, dir) =>
      val slice = TripleStore.dimensionTriples(s, dir)
        .filter(col("s").startsWith("supp:"))
      JsonLd.parse(s, JsonLd.format(slice))
    },
    // schema mappings applied on export (ref MappingUtils.java:76-131)
    "rdf_mapped_export" -> { (s, dir) =>
      val m = Mappings()
        .addSchema("sch", "http://schema.org/")
        .addMapping(":name", "sch", "name")
        .addMapping(":inRegion", "sch", "containedInPlace")
        .addMapping(":Nation", "sch", "Country")
      NTriples.format(m.applyOnExport(
        TripleStore.dimensionTriples(s, dir).filter(col("s").startsWith("nat:"))))
    },
    // RDF/XML subset import (ref RDFImport.java:45): document
    // assembled from the bounded 25-row dimension (ontology-sized,
    // driver-side by design), parsed via the executor-safe StAX path
    "rdf_xml_parse" -> { (s, dir) =>
      val frags = graft.Tables.nation(s, dir).select(concat(
        lit("  <rdf:Description rdf:about=\"nat:"), col("n_nationkey"),
        lit("\">\n    <rdf:type rdf:resource=\":Nation\"/>\n    <g:name>"),
        col("n_name"),
        lit("</g:name>\n    <g:comment xml:lang=\""),
        when(col("n_nationkey") % 2 === 0, "en").otherwise("fr"),
        lit("\">"), col("n_name"),
        lit(" comment</g:comment>\n    <g:regionkey rdf:datatype=\"" +
          "http://www.w3.org/2001/XMLSchema#double\">"),
        col("n_regionkey"),
        lit("</g:regionkey>\n  </rdf:Description>")).as("frag"))
        .collect().map(_.getString(0))
      val doc = "<?xml version=\"1.0\"?>\n<rdf:RDF xmlns:rdf=" +
        "\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" xmlns:g=\":\">\n" +
        frags.mkString("\n") + "\n</rdf:RDF>"
      RdfXml.parse(s, doc)
    },
    // the /cypher endpoint direction: a property graph (here the part
    // slice's LPG view) serialized back to the triple relation —
    // labels → rdf:type, props → literals (+ numeric companions),
    // edges → IRI objects
    "rdf_lpg_to_rdf" -> { (s, dir) =>
      val slice = TripleStore.dimensionTriples(s, dir)
        .filter(col("s").startsWith("part:"))
      PropertyGraph.toTriples(
        PropertyGraph.nodes(slice), PropertyGraph.edges(slice))
    },
    // RDF 1.1 skolemization over a blank-bearing graph: supplier rows
    // minted as blank nodes (subject side) plus the IRI→blank link
    // (object side), then every `_:label` replaced by its
    // deterministic urn:skolem:md5(label) IRI — per-row projection,
    // no shuffle; shards skolemize independently and re-imports
    // reproduce the same IRIs (r9 b22)
    "rdf_skolemize" -> { (s, dir) =>
      val sup = graft.Tables.supplier(s, dir)
      val blanks = sup.select(
        concat(lit("_:s"), col("s_suppkey")).as("s"),
        lit(":hasNation").as("p"),
        concat(lit("nat:"), col("s_nationkey")).as("o"))
        .unionAll(sup.select(
          concat(lit("supp:"), col("s_suppkey")).as("s"),
          lit(":node").as("p"),
          concat(lit("_:s"), col("s_suppkey")).as("o")))
      Skolem.skolemize(blanks)
    },
    // WL blank-node canonical labeling (RDFC-1.0's color-refinement
    // core): a two-blank chain per supplier — _:x → _:y → nat:N —
    // where _:x is only distinguishable through its NEIGHBOR's
    // grounded label, so the refinement round is load-bearing (round
    // 0 gives every _:x the same placeholder signature) (r10)
    "rdf_canon_labels" -> { (s, dir) =>
      val sup = graft.Tables.supplier(s, dir)
      val chain = sup.select(
        concat(lit("_:x"), col("s_suppkey")).as("s"),
        lit(":next").as("p"),
        concat(lit("_:y"), col("s_suppkey")).as("o"))
        .unionAll(sup.select(
          concat(lit("_:y"), col("s_suppkey")).as("s"),
          lit(":hasNation").as("p"),
          concat(lit("nat:"), col("s_nationkey")).as("o")))
      Canon.canonLabels(chain)
    },
    // per-IMPORT blank-node scoping (the RDFImport.java:50-155
    // semantics RDF 1.1 requires: a blank label is file-scoped, so
    // `_:n3` in two files is two different nodes): two "files" both
    // using the same blank labels parse with their file tag riding
    // the parse (extra columns pass through), labels qualify by
    // file, and skolemization mints DISTINCT global IRIs per file —
    // shards import independently, re-imports reproduce (r9 b30)
    "rdf_blank_scoped_import" -> { (s, dir) =>
      val n = graft.Tables.nation(s, dir)
      def fileLines(tag: String) = n.select(lit(tag).as("file"),
        concat(lit("_:n"), col("n_nationkey"),
          lit(" <:name> \""), col("n_name"), lit("\" .")).as("line"))
      val parsed = NTriples.parse(fileLines("f1").unionAll(fileLines("f2")))
      val scopedS = when(col("s").startsWith("_:"),
        concat(lit("_:"), col("file"), lit("/"),
          substring(col("s"), 3, 1 << 24))).otherwise(col("s"))
      Skolem.skolemize(parsed
        .select(scopedS.as("s"), col("p"), col("o")))
    },
    // VoID linksets (W3C VoID §4.1: void:Linkset — how many triples
    // LINK one namespace's subjects to another namespace's objects):
    // the cross-dataset connectivity card next to rdf_void_stats'
    // per-dataset card; one partial-agg fold over (ns(s), p, ns(o))
    // for IRI objects, metadata-scale output (r9 b31)
    "rdf_void_linksets" -> { (s, dir) =>
      TripleStore.dimensionTriples(s, dir)
        .filter(col("o_is_iri"))
        .groupBy(UriFunctions.namespace(col("s")).as("subj_ns"),
          col("p"),
          UriFunctions.namespace(col("o")).as("obj_ns"))
        .agg(count(lit(1)).as("n_links"))
    },
    // per-predicate cardinality profile — the schema-discovery pass
    // (what could be declared functional?); two keyed partial-agg
    // levels, metadata-scale output (r9 b24)
    "rdf_cardinality_profile" -> { (s, dir) =>
      Shapes.cardinalityProfile(TripleStore.dimensionTriples(s, dir)
        .select(col("s"), col("p"), col("o")))
    },
    // which predicates appear TOGETHER on a subject — the entity-shape
    // signal cardinality alone hides (r11)
    "rdf_pred_cooccurrence" -> { (s, dir) =>
      Shapes.predCooccurrence(TripleStore.dimensionTriples(s, dir)
        .select(col("s"), col("p"), col("o")))
    },
    // SHACL-style min/max-cardinality validation report: two
    // conforming shapes and one deliberately-failing shape (nations
    // have no acctbal) so the report exercises both outcomes (r9 b24)
    "rdf_shape_validate" -> { (s, dir) =>
      Shapes.validate(s, TripleStore.dimensionTriples(s, dir)
        .select(col("s"), col("p"), col("o")),
        Seq(
          (":CustomerNationShape", ":Customer", ":hasNation", 1, 1),
          (":CustomerNameShape", ":Customer", ":name", 1, 1),
          (":NationBalanceShape", ":Nation", ":acctbal", 1, 99)))
    },
    // versioned-graph diff: the added/removed triple sets between two
    // store snapshots — the change-review pass a versioned RDF
    // dataset runs before publishing. Pure set algebra: two LEFT ANTI
    // joins keyed on the whole triple (never a collect, never a full
    // sort); at 100 TB both sides shuffle once on the same key, and a
    // predicate-partitioned layout prunes the comparison to changed
    // predicates. The second snapshot here is a deterministic
    // derivation (drop nation comments, add the VIP delta) so the
    // oracle can state the closed-form answer (r9 b23)
    "rdf_diff" -> { (s, dir) =>
      val v1 = TripleStore.dimensionTriples(s, dir)
        .select(col("s"), col("p"), col("o"))
      val vip = graft.Tables.customer(s, dir)
        .filter(col("c_acctbal") > 9000)
        .select(concat(lit("cust:"), col("c_custkey")).as("s"),
          lit("rdf:type").as("p"), lit(":VIP").as("o"))
      val v2 = v1.filter(col("p") =!= ":comment").unionAll(vip)
      val added = v2.join(v1, Seq("s", "p", "o"), "left_anti")
        .withColumn("op", lit("+"))
      val removed = v1.join(v2, Seq("s", "p", "o"), "left_anti")
        .withColumn("op", lit("-"))
      added.unionAll(removed)
    },
    // store mutation as derivation (ref write procedures:
    // RDFImport.importRDF onto an existing store): add a derived VIP
    // delta plus an overlapping slice — idempotent under set
    // semantics, so the overlap must not duplicate
    "rdf_store_add" -> { (s, dir) =>
      val store = TripleStore.dimensionTriples(s, dir)
      val vip = graft.Tables.customer(s, dir)
        .filter(col("c_acctbal") > 9000)
        .select(
          concat(lit("cust:"), col("c_custkey")).as("s"),
          lit("rdf:type").as("p"), lit(":VIP").as("o"),
          lit(null).cast("double").as("o_num"),
          lit(true).as("o_is_iri"), lit(null).cast("string").as("lang"))
      val overlap = store.filter(col("p") === "rdf:type" && col("o") === ":Region")
      TripleOps.add(store, vip.unionByName(overlap))
        .filter(col("p") === "rdf:type" && col("o").isin(":VIP", ":Region"))
        .select(col("s"), col("o"))
    },
    // pattern removal (null = wildcard): drop every :comment triple,
    // then nat:1's outgoing star; count what remains per predicate
    "rdf_store_remove" -> { (s, dir) =>
      val store = TripleStore.dimensionTriples(s, dir)
      TripleOps.remove(TripleOps.remove(store, p = ":comment"), s = "nat:1")
        .filter(col("s").startsWith("nat:"))
        .groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    },
    // Turtle write → parse round-trip (part slice, numeric literals)
    "rdf_turtle_parse" -> { (s, dir) =>
      val slice = TripleStore.dimensionTriples(s, dir)
        .filter(col("s").startsWith("part:"))
      Turtle.parse(s, Turtle.format(slice))
        .filter(col("p").isin(":size", ":brand"))
        .select(col("s"), col("p"), col("o"), col("o_num"))
    },
    // VoID dataset descriptor (W3C VoID: the statistics an RDF store
    // publishes about itself — void:triples, void:distinctSubjects,
    // void:propertyPartition, void:classPartition) over the dimension
    // store. Three aggregations over the ONE cached triple relation;
    // each count_distinct shuffles a single column (never a row-wide
    // distinct), and the property/class partitions combine map-side —
    // at 100 TB this is the predicate-partitioned layout's metadata
    // pass, one scan per statistic family.
    "rdf_void_stats" -> { (s, dir) =>
      val t = TripleStore.dimensionTriples(s, dir)
      val props = t.groupBy(col("p"))
        .agg(count(lit(1)).as("n_triples"),
          countDistinct(col("s")).as("n_subjects"),
          countDistinct(col("o")).as("n_objects"))
        .select(lit("property").as("kind"), col("p").as("name"),
          col("n_triples"), col("n_subjects"), col("n_objects"))
      val classes = t.filter(col("p") === "rdf:type")
        .groupBy(col("o"))
        .agg(count(lit(1)).as("n_triples"),
          countDistinct(col("s")).as("n_subjects"))
        .select(lit("class").as("kind"), col("o").as("name"),
          col("n_triples"), col("n_subjects"), lit(1L).as("n_objects"))
      val ds = t.agg(count(lit(1)).as("n_triples"),
          countDistinct(col("s")).as("n_subjects"),
          countDistinct(col("o")).as("n_objects"))
        .select(lit("dataset").as("kind"), lit("all").as("name"),
          col("n_triples"), col("n_subjects"), col("n_objects"))
      props.union(classes).union(ds)
    },
    // RDF reification of the geo edge slice: every :hasNation
    // statement becomes a content-addressed statement resource with
    // rdf:subject/predicate/object — deterministic IRIs, one narrow
    // explode pass (r9 batch 11)
    "rdf_reify" -> { (s, dir) =>
      Reification.reify(
        TripleStore.dimensionTriples(s, dir)
          .filter(col("p") === ":hasNation")
          .select(col("s"), col("p"), col("o")))
    },
    // order-independent dataset digest over the dimension store —
    // the versioned-export fingerprint (r9 batch 14)
    "rdf_graph_digest" -> { (s, dir) =>
      Reification.graphDigest(
        TripleStore.dimensionTriples(s, dir)
          .select(col("s"), col("p"), col("o")))
    },
    // object-term composition card (VoID-adjacent QA): how many
    // objects are IRIs vs numeric vs lang-tagged vs plain literals —
    // the profile that says which query families even apply to a
    // freshly imported graph; one partial-agg pass (r10)
    "rdf_literal_profile" -> { (s, dir) =>
      TripleStore.dimensionTriples(s, dir)
        .groupBy(when(col("o_is_iri"), "iri")
          .when(col("o_num").isNotNull, "numeric")
          .when(col("lang").isNotNull, "lang_tagged")
          .otherwise("plain").as("term_class"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("p")).as("n_properties"))
    },
    // import-QA: per-supplier good/comment/malformed/blank lines —
    // the report that makes parse's silent drops visible (r10)
    "rdf_parse_report" -> { (s, dir) =>
      val sup = graft.Tables.supplier(s, dir)
      def lines(c: org.apache.spark.sql.Column) = sup.select(c.as("line"))
      val mixed = lines(concat(lit("<supp:"), col("s_suppkey"),
          lit("> <:hasNation> <nat:"), col("s_nationkey"), lit("> .")))
        .unionAll(lines(concat(lit("# supplier "), col("s_suppkey"))))
        .unionAll(lines(concat(lit("supp:"), col("s_suppkey"),
          lit(" has no brackets"))))
        .unionAll(lines(lit("")))
      NTriples.parseReport(mixed)
    },
    // VoID per NAMED GRAPH (W3C VoID over a quad store: one dataset
    // card per graph) — graphs from the subject namespace, per-graph
    // triple/subject/property cards in one partial-agg pass (r10)
    "rdf_void_by_graph" -> { (s, dir) =>
      val t = TripleStore.dimensionTriples(s, dir)
      t.select(concat(lit("g:"),
          regexp_extract(col("s"), "^([a-z]+):", 1)).as("g"),
          col("s"), col("p"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_triples"),
          countDistinct(col("s")).as("n_subjects"),
          countDistinct(col("p")).as("n_properties"))
    },
    // RDF collections: per-region nation lists as rdf:first/rdf:rest
    // cons chains (the Turtle `( … )` / OWL list-axiom storage shape),
    // unrolled back to ordered (head, pos, item) rows (r10)
    "rdf_list_unroll" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val n = graft.Tables.nation(s, dir)
      val w = Window.partitionBy(col("r")).orderBy(col("k"))
      val seqd = n.select(col("n_regionkey").as("r"), col("n_nationkey").as("k"))
        .withColumn("i", row_number().over(w) - 1)
        .withColumn("n_in_r", count(lit(1)).over(Window.partitionBy(col("r"))))
      val cell = concat(lit("cell:"), col("r"), lit(":"), col("i"))
      val nxt = when(col("i") === col("n_in_r") - 1, lit("rdf:nil"))
        .otherwise(concat(lit("cell:"), col("r"), lit(":"), col("i") + 1))
      val t = seqd.select(cell.as("s"), lit("rdf:first").as("p"),
          concat(lit("nat:"), col("k")).as("o"))
        .unionAll(seqd.select(cell.as("s"), lit("rdf:rest").as("p"),
          nxt.as("o")))
      RdfList.unroll(t)
    },
    // isomorphism-invariant digest: canonical labels substituted for
    // blanks before the XOR fold — equal across re-imports that mint
    // fresh blank labels, which the plain digest is not (r10)
    "rdf_canon_digest" -> { (s, dir) =>
      val sup = graft.Tables.supplier(s, dir)
      val chain = sup.select(
        concat(lit("_:x"), col("s_suppkey")).as("s"),
        lit(":next").as("p"),
        concat(lit("_:y"), col("s_suppkey")).as("o"))
        .unionAll(sup.select(
          concat(lit("_:y"), col("s_suppkey")).as("s"),
          lit(":hasNation").as("p"),
          concat(lit("nat:"), col("s_nationkey")).as("o")))
      Canon.canonDigest(chain)
    },
  )

  val oracle: Map[String, String] = Map(
    "rdf_build_triples" ->
      """SELECT 'cust:'||c_custkey AS s, 'rdf:type' AS p, ':Customer' AS o,
        |       CAST(NULL AS DOUBLE) AS o_num, true AS o_is_iri,
        |       CAST(NULL AS VARCHAR) AS lang FROM customer
        |UNION ALL
        |SELECT 'cust:'||c_custkey, ':name', c_name, NULL, false, NULL FROM customer
        |UNION ALL
        |SELECT 'cust:'||c_custkey, ':acctbal', CAST(c_acctbal AS VARCHAR),
        |       c_acctbal, false, NULL FROM customer
        |UNION ALL
        |SELECT 'cust:'||c_custkey, ':mktsegment', c_mktsegment, NULL, false, NULL
        |FROM customer
        |UNION ALL
        |SELECT 'cust:'||c_custkey, ':hasNation', 'nat:'||c_nationkey, NULL, true,
        |       NULL FROM customer""".stripMargin,
    "rdf_ntriples_roundtrip" ->
      """SELECT 'supp:'||s_suppkey AS s, ':name' AS p, s_name AS o,
        |       CAST(NULL AS DOUBLE) AS o_num, false AS o_is_iri,
        |       CAST(NULL AS VARCHAR) AS lang FROM supplier
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, ':acctbal', CAST(s_acctbal AS VARCHAR),
        |       s_acctbal, false, NULL FROM supplier""".stripMargin,
    // namespaces sorted: :, cust:, line:, nat:, ord:, part:, reg:, supp:
    // over subject URIs only -> cust: is ns0
    "rdf_property_graph_nodes" ->
      """SELECT 'ns0:'||c_custkey AS uri, ':Customer' AS labels,
        |       c_name AS nm, c_acctbal AS bal FROM customer""".stripMargin,
    // multi-valued properties: per (node, property) the DISTINCT
    // value count and the sorted '|'-joined value list
    "rdf_property_graph_multival" ->
      """WITH t AS (
        |  SELECT 'cust:'||o_custkey AS s, ':orderpriority' AS p,
        |         o_orderpriority AS o FROM orders
        |  UNION ALL
        |  SELECT 'cust:'||c_custkey, ':name', c_name FROM customer),
        |d AS (SELECT DISTINCT s, p, o FROM t)
        |SELECT s AS uri, p, count(*) AS n_vals,
        |       string_agg(o, '|' ORDER BY o) AS vals
        |FROM d GROUP BY 1, 2""".stripMargin,
    "rdf_property_graph_edges" ->
      """SELECT ':hasNation' AS rel,
        |       (SELECT count(*) FROM customer)+(SELECT count(*) FROM supplier) AS cnt
        |UNION ALL SELECT ':inRegion', (SELECT count(*) FROM nation)
        |UNION ALL SELECT ':byCustomer', (SELECT count(*) FROM orders)
        |UNION ALL SELECT ':ofOrder', (SELECT count(DISTINCT
        |  (l_orderkey, l_linenumber, l_partkey, l_suppkey)) FROM lineitem)
        |UNION ALL SELECT ':ofPart', (SELECT count(DISTINCT
        |  (l_orderkey, l_linenumber, l_partkey, l_suppkey)) FROM lineitem)
        |UNION ALL SELECT ':bySupplier', (SELECT count(DISTINCT
        |  (l_orderkey, l_linenumber, l_partkey, l_suppkey)) FROM lineitem)""".stripMargin,
    "rdf_uri_functions" ->
      """SELECT 'nat:'||n_nationkey AS s, CAST(n_nationkey AS VARCHAR) AS local,
        |       'nat:' AS ns FROM nation
        |UNION ALL
        |SELECT 'reg:'||r_regionkey, CAST(r_regionkey AS VARCHAR), 'reg:'
        |FROM region""".stripMargin,
    "rdf_lang_filter" ->
      """SELECT 'nat:'||n_nationkey AS s, n_name||' comment' AS o, 'en' AS lang
        |FROM nation WHERE n_nationkey % 2 = 0""".stripMargin,
    "rdf_export_ntriples" ->
      """SELECT '<nat:'||n_nationkey||'> <rdf:type> <:Nation> .' AS line FROM nation
        |UNION ALL
        |SELECT '<nat:'||n_nationkey||'> <:name> "'||n_name||'" .' FROM nation
        |UNION ALL
        |SELECT '<nat:'||n_nationkey||'> <:comment> "'||n_name||' comment"@'||
        |       CASE WHEN n_nationkey % 2 = 0 THEN 'en' ELSE 'fr' END||' .'
        |FROM nation
        |UNION ALL
        |SELECT '<nat:'||n_nationkey||'> <:inRegion> <reg:'||n_regionkey||'> .'
        |FROM nation
        |UNION ALL
        |SELECT '<reg:'||r_regionkey||'> <rdf:type> <:Region> .' FROM region
        |UNION ALL
        |SELECT '<reg:'||r_regionkey||'> <:name> "'||r_name||'" .' FROM region""".stripMargin,
    "rdf_import_preview" ->
      """WITH t AS (
        |  SELECT 'nat:'||n_nationkey AS s, ':comment' AS p,
        |         n_name||' comment' AS o FROM nation
        |  UNION ALL SELECT 'nat:'||n_nationkey, ':inRegion',
        |         'reg:'||n_regionkey FROM nation
        |  UNION ALL SELECT 'nat:'||n_nationkey, ':name', n_name FROM nation
        |  UNION ALL SELECT 'nat:'||n_nationkey, 'rdf:type', ':Nation' FROM nation)
        |SELECT s, p, o FROM t
        |ORDER BY '<'||s||'> <'||p||'>' LIMIT 30""".stripMargin,
    "rdf_export_turtle" ->
      """SELECT '@prefix ns0: <:> .' AS line
        |UNION ALL SELECT '@prefix ns1: <rdf:> .'
        |UNION ALL SELECT '@prefix ns2: <reg:> .'
        |UNION ALL
        |SELECT 'ns2:'||r_regionkey||' ns0:name "'||r_name||
        |       '" ; ns1:type ns0:Region .' FROM region""".stripMargin,
    "rdf_namespace_registry" ->
      """SELECT * FROM (VALUES ('cust:','ns0'), ('line:','ns1'), ('nat:','ns2'),
        |  ('ord:','ns3'), ('part:','ns4'), ('reg:','ns5'), ('supp:','ns6'))
        |  t(ns, prefix)""".stripMargin,
    "rdf_jsonld_parse" ->
      """SELECT 'nat:'||n_nationkey AS s, 'rdf:type' AS p, ':Nation' AS o,
        |       CAST(NULL AS DOUBLE) AS o_num, true AS o_is_iri,
        |       CAST(NULL AS VARCHAR) AS lang FROM nation
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, ':name', n_name, NULL, false, NULL FROM nation
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, ':comment', n_name||' comment', NULL, false,
        |       CASE WHEN n_nationkey % 2 = 0 THEN 'en' ELSE 'fr' END FROM nation
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, ':regionkey', CAST(n_regionkey AS VARCHAR),
        |       CAST(n_regionkey AS DOUBLE), false, NULL FROM nation""".stripMargin,
    "rdf_trig_parse" ->
      """SELECT 'g:nation' AS g, 'nat:'||n_nationkey AS s, n_name AS o FROM nation
        |UNION ALL
        |SELECT 'g:region', 'reg:'||r_regionkey, r_name FROM region""".stripMargin,
    "rdf_nquads_roundtrip" ->
      """SELECT 'g:nation' AS g, 'nat:'||n_nationkey AS s, ':name' AS p,
        |       n_name AS o, CAST(NULL AS DOUBLE) AS num FROM nation
        |UNION ALL
        |SELECT '', 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey, NULL
        |FROM supplier
        |UNION ALL
        |SELECT 'g:bal', 'cust:'||c_custkey, ':acctbal', '', c_acctbal
        |FROM customer""".stripMargin,
    "rdf_describe" ->
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
        |FROM supplier WHERE s_nationkey = 1""".stripMargin,
    "rdf_jsonld_roundtrip" ->
      """SELECT 'supp:'||s_suppkey AS s, 'rdf:type' AS p, ':Supplier' AS o,
        |       CAST(NULL AS DOUBLE) AS o_num, true AS o_is_iri,
        |       CAST(NULL AS VARCHAR) AS lang FROM supplier
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, ':name', s_name, NULL, false, NULL FROM supplier
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, ':acctbal', CAST(s_acctbal AS VARCHAR),
        |       s_acctbal, false, NULL FROM supplier
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey, NULL, true,
        |       NULL FROM supplier""".stripMargin,
    "rdf_mapped_export" ->
      """SELECT '<nat:'||n_nationkey||'> <rdf:type> <http://schema.org/Country> .'
        |       AS line FROM nation
        |UNION ALL
        |SELECT '<nat:'||n_nationkey||'> <http://schema.org/name> "'||n_name||'" .'
        |FROM nation
        |UNION ALL
        |SELECT '<nat:'||n_nationkey||'> <:comment> "'||n_name||' comment"@'||
        |       CASE WHEN n_nationkey % 2 = 0 THEN 'en' ELSE 'fr' END||' .'
        |FROM nation
        |UNION ALL
        |SELECT '<nat:'||n_nationkey||'> <http://schema.org/containedInPlace> <reg:'||
        |       n_regionkey||'> .' FROM nation""".stripMargin,
    "rdf_xml_parse" ->
      """SELECT 'nat:'||n_nationkey AS s, 'rdf:type' AS p, ':Nation' AS o,
        |       CAST(NULL AS DOUBLE) AS o_num, true AS o_is_iri,
        |       CAST(NULL AS VARCHAR) AS lang FROM nation
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, ':name', n_name, NULL, false, NULL FROM nation
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, ':comment', n_name||' comment', NULL, false,
        |       CASE WHEN n_nationkey % 2 = 0 THEN 'en' ELSE 'fr' END FROM nation
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, ':regionkey', CAST(n_regionkey AS VARCHAR),
        |       CAST(n_regionkey AS DOUBLE), false, NULL FROM nation""".stripMargin,
    "rdf_lpg_to_rdf" ->
      """SELECT 'part:'||p_partkey AS s, 'rdf:type' AS p, ':Part' AS o,
        |       CAST(NULL AS DOUBLE) AS o_num, true AS o_is_iri,
        |       CAST(NULL AS VARCHAR) AS lang FROM part
        |UNION ALL
        |SELECT 'part:'||p_partkey, ':name', p_name, NULL, false, NULL FROM part
        |UNION ALL
        |SELECT 'part:'||p_partkey, ':brand', p_brand, NULL, false, NULL FROM part
        |UNION ALL
        |SELECT 'part:'||p_partkey, ':ptype', p_type, NULL, false, NULL FROM part
        |UNION ALL
        |SELECT 'part:'||p_partkey, ':size', CAST(p_size AS VARCHAR),
        |       CAST(p_size AS DOUBLE), false, NULL FROM part
        |UNION ALL
        |SELECT 'part:'||p_partkey, ':retailprice',
        |       CAST(p_retailprice AS VARCHAR), p_retailprice, false, NULL
        |FROM part""".stripMargin,
    // classes reconstructed by predicate: the dimension model types
    // exactly these four IRI-object and four numeric predicates, and
    // every :comment literal carries a language tag
    "rdf_literal_profile" ->
      (s"WITH $DIM_T\n" +
      """|SELECT CASE
        |    WHEN p IN ('rdf:type', ':hasNation', ':inRegion', ':byCustomer')
        |      THEN 'iri'
        |    WHEN p IN (':acctbal', ':size', ':retailprice', ':totalprice')
        |      THEN 'numeric'
        |    WHEN p = ':comment' THEN 'lang_tagged'
        |    ELSE 'plain' END AS term_class,
        |  count(*) AS n, count(DISTINCT p) AS n_properties
        |FROM t GROUP BY 1""".stripMargin),
    "rdf_parse_report" ->
      """SELECT CAST(4 * count(*) AS BIGINT) AS n_lines,
        |  CAST(count(*) AS BIGINT) AS n_blank,
        |  CAST(count(*) AS BIGINT) AS n_comment,
        |  CAST(count(*) AS BIGINT) AS n_parsed,
        |  CAST(count(*) AS BIGINT) AS n_malformed
        |FROM supplier""".stripMargin,
    "rdf_void_by_graph" ->
      (s"WITH $DIM_T\n" +
      """|SELECT 'g:'||regexp_extract(s, '^([a-z]+):', 1) AS g,
        |  count(*) AS n_triples,
        |  count(DISTINCT s) AS n_subjects,
        |  count(DISTINCT p) AS n_properties
        |FROM t GROUP BY 1""".stripMargin),
    "rdf_list_unroll" ->
      """SELECT 'cell:'||n_regionkey||':0' AS head,
        |  row_number() OVER (PARTITION BY n_regionkey
        |    ORDER BY n_nationkey) - 1 AS pos,
        |  'nat:'||n_nationkey AS item
        |FROM nation""".stripMargin,
    // replay both WL rounds in closed form: lab1(_:x) hashes _:y's
    // round-0 label (sorted sigs joined by \n; 'i|' < 'o|' in ASCII)
    "rdf_canon_labels" ->
      """SELECT '_:x'||s_suppkey AS b,
        |  md5('o|:next|' ||
        |      md5('i|:next|_' || chr(10) ||
        |          'o|:hasNation|nat:'||s_nationkey)) AS canon
        |FROM supplier
        |UNION ALL
        |SELECT '_:y'||s_suppkey,
        |  md5('i|:next|' || md5('o|:next|_') || chr(10) ||
        |      'o|:hasNation|nat:'||s_nationkey)
        |FROM supplier""".stripMargin,
    "rdf_skolemize" ->
      """SELECT 'urn:skolem:'||md5('s'||s_suppkey) AS s,
        |       ':hasNation' AS p, 'nat:'||s_nationkey AS o
        |FROM supplier
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, ':node', 'urn:skolem:'||md5('s'||s_suppkey)
        |FROM supplier""".stripMargin,
    // the dimension store's IRI-object predicates are exactly these
    // four (everything else is a literal) — the filter the o_is_iri
    // column answers on the Spark side
    "rdf_void_linksets" ->
      (s"WITH $DIM_T\n" +
      """|SELECT regexp_extract(s, '^(.*[#/:])', 1) AS subj_ns, p,
         |  regexp_extract(o, '^(.*[#/:])', 1) AS obj_ns,
         |  count(*) AS n_links
         |FROM t
         |WHERE p IN ('rdf:type', ':hasNation', ':inRegion', ':byCustomer')
         |GROUP BY 1, 2, 3""".stripMargin),
    "rdf_blank_scoped_import" ->
      """SELECT 'urn:skolem:'||md5('f1/n'||n_nationkey) AS s,
        |       ':name' AS p, n_name AS o
        |FROM nation
        |UNION ALL
        |SELECT 'urn:skolem:'||md5('f2/n'||n_nationkey), ':name', n_name
        |FROM nation""".stripMargin,
    "rdf_cardinality_profile" ->
      (s"WITH $DIM_T,\n" +
      """|ps AS (SELECT p, s, count(*) AS c FROM t GROUP BY 1, 2)
         |SELECT p, count(*) AS n_subjects,
         |  CAST(sum(c) AS BIGINT) AS n_triples,
         |  CAST(max(c) AS BIGINT) AS max_fanout,
         |  max(c) = 1 AS is_functional
         |FROM ps GROUP BY p""".stripMargin),
    "rdf_pred_cooccurrence" ->
      (s"WITH $DIM_T,\n" +
      """|sp AS (SELECT DISTINCT s, p FROM t)
         |SELECT a.p AS p1, b.p AS p2, count(*) AS n_subjects
         |FROM sp a JOIN sp b ON a.s = b.s AND a.p < b.p
         |GROUP BY 1, 2""".stripMargin),
    "rdf_shape_validate" ->
      (s"WITH $DIM_T,\n" +
      """|shapes(shape, target_class, path, min_count, max_count) AS (
         |  VALUES (':CustomerNationShape', ':Customer', ':hasNation', 1, 1),
         |         (':CustomerNameShape', ':Customer', ':name', 1, 1),
         |         (':NationBalanceShape', ':Nation', ':acctbal', 1, 99)),
         |targets AS (SELECT t.s AS node, sh.*
         |            FROM t JOIN shapes sh ON t.o = sh.target_class
         |            WHERE t.p = 'rdf:type'),
         |pc AS (SELECT s, p, count(*) AS cnt FROM t GROUP BY 1, 2)
         |SELECT shape, target_class, path, min_count, max_count,
         |  count(*) AS n_targets,
         |  CAST(sum(CASE WHEN coalesce(cnt, 0)
         |    BETWEEN min_count AND max_count THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_conforming,
         |  count(*) - CAST(sum(CASE WHEN coalesce(cnt, 0)
         |    BETWEEN min_count AND max_count THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violations
         |FROM targets LEFT JOIN pc ON pc.s = targets.node AND pc.p = targets.path
         |GROUP BY 1, 2, 3, 4, 5""".stripMargin),
    "rdf_diff" ->
      """SELECT 'cust:'||c_custkey AS s, 'rdf:type' AS p, ':VIP' AS o,
        |       '+' AS op
        |FROM customer WHERE c_acctbal > 9000
        |UNION ALL
        |SELECT 'nat:'||n_nationkey, ':comment', n_name||' comment', '-'
        |FROM nation""".stripMargin,
    "rdf_store_add" ->
      """SELECT 'cust:'||c_custkey AS s, ':VIP' AS o FROM customer
        |WHERE c_acctbal > 9000
        |UNION ALL
        |SELECT 'reg:'||r_regionkey, ':Region' FROM region""".stripMargin,
    "rdf_store_remove" ->
      """SELECT 'rdf:type' AS p, count(*) - 1 AS cnt FROM nation
        |UNION ALL SELECT ':name', count(*) - 1 FROM nation
        |UNION ALL SELECT ':inRegion', count(*) - 1 FROM nation""".stripMargin,
    "rdf_turtle_parse" ->
      """SELECT 'part:'||p_partkey AS s, ':size' AS p,
        |       CAST(p_size AS VARCHAR) AS o,
        |       CAST(p_size AS DOUBLE) AS o_num FROM part
        |UNION ALL
        |SELECT 'part:'||p_partkey, ':brand', p_brand, NULL FROM part""".stripMargin,
    // VoID: the full dimension-store enumeration (RdfModel
    // dimensionAndOrderTriples verbatim — only (s, p, o) matter for
    // the counts; numeric/timestamp literal formatting differs per
    // engine but string casts are injective, so distinct counts agree)
    "rdf_void_stats" ->
      (s"WITH $DIM_T,\n" +
      """|props AS (SELECT 'property' AS kind, p AS name, count(*) AS n_triples,
        |    count(DISTINCT s) AS n_subjects, count(DISTINCT o) AS n_objects
        |  FROM t GROUP BY p),
        |cls AS (SELECT 'class' AS kind, o AS name, count(*) AS n_triples,
        |    count(DISTINCT s) AS n_subjects, CAST(1 AS BIGINT) AS n_objects
        |  FROM t WHERE p = 'rdf:type' GROUP BY o),
        |ds AS (SELECT 'dataset' AS kind, 'all' AS name, count(*) AS n_triples,
        |    count(DISTINCT s) AS n_subjects, count(DISTINCT o) AS n_objects
        |  FROM t)
        |SELECT * FROM props UNION ALL SELECT * FROM cls
        |UNION ALL SELECT * FROM ds""".stripMargin),
    // content-addressed statement IRIs: md5 over the canonical s|p|o
    // string on both engines
    "rdf_reify" ->
      """WITH t(s, p, o) AS (
        |  SELECT 'cust:'||c_custkey, ':hasNation', 'nat:'||c_nationkey
        |  FROM customer
        |  UNION ALL
        |  SELECT 'supp:'||s_suppkey, ':hasNation', 'nat:'||s_nationkey
        |  FROM supplier),
        |r AS (SELECT 'stmt:'||md5(s||'|'||p||'|'||o) AS stmt, s, p, o FROM t)
        |SELECT stmt AS s, 'rdf:type' AS p, 'rdf:Statement' AS o FROM r
        |UNION ALL SELECT stmt, 'rdf:subject', s FROM r
        |UNION ALL SELECT stmt, 'rdf:predicate', p FROM r
        |UNION ALL SELECT stmt, 'rdf:object', o FROM r""".stripMargin,
    // bit_xor over 60-bit content-hash prefixes: commutative fold,
    // so the digest is shard-order-independent on both engines
    "rdf_graph_digest" ->
      (s"WITH $DIM_T,\n" +
      """|h AS (SELECT ('0x' || substr(md5(s||'|'||p||'|'||o), 1, 15))::BIGINT
        |    AS h FROM t)
        |SELECT count(*) AS n_triples, bit_xor(h) AS digest FROM h""".stripMargin),
    // both WL labels in closed form (the rdf_canon_labels oracle),
    // substituted into the chain triples, then the digest fold —
    // same-nation suppliers yield IDENTICAL canonical triples whose
    // XOR contributions pair-cancel, exactly as the Spark side's
    // multiset fold does (the documented automorphic-twin limit)
    "rdf_canon_digest" ->
      """WITH lab AS (SELECT s_nationkey AS n,
        |    md5('o|:next|' ||
        |        md5('i|:next|_' || chr(10) ||
        |            'o|:hasNation|nat:'||s_nationkey)) AS lx,
        |    md5('i|:next|' || md5('o|:next|_') || chr(10) ||
        |        'o|:hasNation|nat:'||s_nationkey) AS ly
        |  FROM supplier),
        |t AS (SELECT lx||'|:next|'||ly AS c FROM lab
        |  UNION ALL SELECT ly||'|:hasNation|nat:'||n FROM lab),
        |h AS (SELECT ('0x' || substr(md5(c), 1, 15))::BIGINT AS h FROM t)
        |SELECT count(*) AS n_triples, bit_xor(h) AS digest FROM h""".stripMargin,
  )
}
