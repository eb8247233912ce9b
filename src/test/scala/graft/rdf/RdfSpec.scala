package graft.rdf

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RdfSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private lazy val nasty = Seq(
    ("s:1", ":quote", "say \"hi\"", Option.empty[Double], false, Option.empty[String]),
    ("s:1", ":multi", "a\nb\tc\\d", None, false, None),
    ("s:1", ":num", "2.5", Some(2.5), false, None),
    ("s:1", ":tagged", "bonjour", None, false, Some("fr")),
    ("s:1", ":ref", "s:2", None, true, None))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  test("N-Triples round-trips escaping, datatypes, language tags") {
    val back = NTriples.parse(NTriples.format(nasty))
    val got = back.orderBy("p").collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)), r.getBoolean(4), Option(r.getString(5)))).toSet
    val want = nasty.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)), r.getBoolean(4), Option(r.getString(5)))).toSet
    assert(got == want)
  }

  test("N-Triples file write/read round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("nt").toString + "/out"
    NTriples.write(nasty, dir)
    assert(NTriples.read(spark, dir).count() == 5)
  }

  test("N-Triples parse handles multi-space separators and unicode escapes") {
    val lines = Seq(
      "<s:1>  <:p>\t<s:2> .",                 // grammar allows 1+ spaces/tabs
      "<s:1> <:q> \"caf\\u00E9\" .",          // \uXXXX numeric escape
      "<s:1> <:r> \"plain\"  .").toDF("line")
    val got = NTriples.parse(lines).orderBy("p").collect()
    assert(got.length == 3)
    assert(got(0).getString(2) == "s:2" && got(0).getBoolean(4))
    assert(got(1).getString(2) == "café")
    assert(got(2).getString(2) == "plain")
  }

  test("RDF/XML formatString/parse round-trips the triple relation") {
    val withBnodes = nasty.unionAll(Seq(
      ("_:b0", ":ref", "_:b1", Option.empty[Double], true, Option.empty[String]))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang"))
    val back = RdfXml.parse(spark, RdfXml.formatString(withBnodes))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)), r.getBoolean(4), Option(r.getString(5)))).toSet
    assert(key(back) == key(withBnodes))
  }

  test("RDF/XML parses typed nodes, resources, datatypes, lang, nodeID") {
    val xml =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:g=":">
        |  <g:Nation rdf:about="nat:1">
        |    <g:name xml:lang="en">ALGERIA</g:name>
        |    <g:size rdf:datatype="http://www.w3.org/2001/XMLSchema#double">7.5</g:size>
        |    <g:inRegion rdf:resource="reg:0"/>
        |    <g:peer rdf:nodeID="b7"/>
        |  </g:Nation>
        |</rdf:RDF>""".stripMargin
    val t = RdfXml.parse(spark, xml)
    assert(t.count() == 5)
    assert(t.filter($"p" === "rdf:type" && $"o" === ":Nation" && $"o_is_iri").count() == 1)
    assert(t.filter($"p" === ":name" && $"lang" === "en" && $"o" === "ALGERIA").count() == 1)
    assert(t.filter($"p" === ":size" && $"o_num" === 7.5).count() == 1)
    assert(t.filter($"p" === ":inRegion" && $"o" === "reg:0" && $"o_is_iri").count() == 1)
    assert(t.filter($"p" === ":peer" && $"o" === "_:b7" && $"o_is_iri").count() == 1)
  }

  test("TriG quads round-trip; bare lines land in the default graph") {
    val quads = Seq(
      ("g:a", "s:1", ":p", "x", Option.empty[Double], false, Option.empty[String]),
      ("g:b", "s:2", ":q", "s:3", None, true, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    val back = TriG.parse(TriG.format(quads))
    assert(back.count() == 2)
    assert(back.filter($"g" === "g:b" && $"o" === "s:3" && $"o_is_iri").count() == 1)
    val mixed = Seq(
      "<g:x> { <s:1> <:p> \"v\" . }",
      "<s:9> <:p> <s:8> .",
      "GRAPH <g:y> { <s:2> <:p> \"w\" . }").toDF("line")
    val t = TriG.parse(mixed)
    assert(t.count() == 3)
    assert(t.filter($"g" === "").count() == 1)
    assert(t.filter($"g" === "g:y" && $"o" === "w").count() == 1)
    // a brace-terminated line with no opening brace is malformed: drop
    val bad = Seq("<g:z> <s:1> <:p> \"v\" . }").toDF("line")
    assert(TriG.parse(bad).count() == 0)
  }

  test("Endpoint.describe returns the star plus incoming edges, all formats") {
    val t = Seq(
      ("n:1", ":name", "X", Option.empty[Double], false, Option.empty[String]),
      ("n:1", ":in", "r:1", None, true, None),
      ("c:1", ":has", "n:1", None, true, None),
      ("c:2", ":other", "zzz", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val d = Endpoint.describe(t, "n:1")
    assert(d.count() == 3)
    assert(d.filter($"dir" === "in").select("s").as[String].collect().toSeq
      == Seq("c:1"))
    for (f <- Seq("ntriples", "jsonld", "rdfxml"))
      assert(Endpoint.describeAs(t, "n:1", f).contains("n:1"), f)
    // turtle shortens URIs through the minted prefix registry
    assert(Endpoint.describeAs(t, "n:1", "turtle").contains("@prefix"))
    intercept[IllegalArgumentException](Endpoint.describeAs(t, "n:1", "bogus"))
  }

  test("JSON-LD format/parse round-trips, keeping numeric lexical forms") {
    val t = Seq(
      ("s:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]),
      ("s:1", ":bal", "100.00", Some(100.0), false, None),
      ("s:1", ":knows", "s:2", None, true, None),
      ("s:1", ":greet", "bonjour", None, false, Some("fr")),
      ("s:2", ":name", "bob", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val back = JsonLd.parse(spark, JsonLd.format(t))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)), r.getBoolean(4), Option(r.getString(5)))).toSet
    assert(key(back) == key(t))
  }

  test("Mappings add/drop/list and broadcast export application") {
    val m = Mappings()
      .addSchema("sch", "http://schema.org/")
      .addMapping(":name", "sch", "name")
      .addMapping(":x", "sch", "x")
    assert(m.list(spark).as[(String, String)].collect().toSet ==
      Set(":name" -> "http://schema.org/name", ":x" -> "http://schema.org/x"))
    assert(m.list(spark, "nam").count() == 1)
    assert(m.dropMapping(":x").list(spark).count() == 1)
    assert(m.dropSchema("sch").list(spark).count() == 0)
    intercept[IllegalArgumentException](m.addMapping(":y", "nope", "y"))
    val t = Seq(
      ("s:1", ":name", "ann", Option.empty[Double], false, Option.empty[String]),
      ("s:1", "rdf:type", ":Thing", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val out = m.applyOnExport(t)
    assert(out.filter($"p" === "http://schema.org/name").count() == 1)
    assert(out.filter($"p" === "rdf:type" && $"o" === ":Thing").count() == 1)
  }

  test("RdfImport facade dispatches every reference parser format") {
    val nt = "<s:1> <:p> \"v\" ."
    assert(RdfImport.parseFragment(spark, nt, "N-Triples").count() == 1)
    assert(RdfImport.parseFragment(spark, s"<g:1> { $nt }", "TriG").count() == 1)
    assert(RdfImport.parseFragment(spark,
      "@prefix x: <s:> .\nx:1 <:p> \"v\" .", "Turtle").count() == 1)
    assert(RdfImport.parseFragment(spark,
      """{"@id":"s:1",":p":"v"}""", "JSON-LD").count() == 1)
    val xml = "<?xml version=\"1.0\"?><rdf:RDF " +
      "xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" xmlns:g=\":\">" +
      "<rdf:Description rdf:about=\"s:1\"><g:p>v</g:p></rdf:Description></rdf:RDF>"
    assert(RdfImport.parseFragment(spark, xml, "RDF/XML").count() == 1)
    intercept[IllegalArgumentException](
      RdfImport.parseFragment(spark, nt, "n3"))
    // common-schemas preset: conflicting re-registration is a no-op
    val cs = Mappings.withCommonSchemas
    assert(cs.schemas.size == 7)
    assert(cs.addSchema("x", "http://schema.org/").schemas == cs.schemas)
    assert(cs.addSchema("sch", "http://other/").schemas == cs.schemas)
  }

  test("RDF/XML file read parses per-file, skips corrupt, drops nested") {
    val dir = java.nio.file.Files.createTempDirectory("rdfxml")
    def doc(n: Int) =
      "<?xml version=\"1.0\"?><rdf:RDF " +
        "xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" xmlns:g=\":\">" +
        s"<rdf:Description rdf:about=\"s:$n\"><g:p>v$n</g:p>" +
        "<g:deep><rdf:Description rdf:about=\"s:x\"/></g:deep>" + // nested: dropped
        "</rdf:Description></rdf:RDF>"
    java.nio.file.Files.writeString(dir.resolve("a.rdf"), doc(1))
    java.nio.file.Files.writeString(dir.resolve("b.rdf"), doc(2))
    java.nio.file.Files.writeString(dir.resolve("c.rdf"), "<broken")
    val t = RdfXml.read(spark, dir.toString)
    assert(t.count() == 2)
    assert(t.filter($"p" === ":p").count() == 2)
    assert(t.filter($"p" === ":deep").count() == 0)
  }

  test("Turtle tolerates attached terminators and malformed doubles") {
    val lines = Seq(
      "@prefix n: <nat:> .",
      "n:1 n:p \"x\"@en.",                    // no space before '.'
      "n:2 n:q \"zz\"^^<http://www.w3.org/2001/XMLSchema#double> .")
      .toDF("line")
    val got = Turtle.parse(SharedSpark.spark, lines).orderBy("s").collect()
    assert(got.length == 2)
    assert(got(0).getString(5) == "en")
    assert(got(1).isNullAt(3) && got(1).getString(2) == "zz") // degraded literal
  }

  test("multi-valued numeric props keep (lex, num) from one triple") {
    val t = Seq(
      ("n:1", ":x", "9", Some(9.0), false, Option.empty[String]),
      ("n:1", ":x", "10", Some(10.0), false, Option.empty[String]))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val n = PropertyGraph.nodes(t).head()
    val lex = n.getMap[String, String](2)(":x")
    val num = n.getMap[String, Double](3)(":x")
    // "10" < "9" lexicographically, and its numeric twin must be 10.0
    assert(lex == "10" && num == 10.0)
  }

  test("Turtle round-trips via prefix table") {
    val back = Turtle.parse(spark, Turtle.format(nasty))
    assert(back.count() == 5)
    val num = back.filter(col("p") === ":num").head()
    assert(num.getDouble(3) == 2.5)
    val tagged = back.filter(col("p") === ":tagged").head()
    assert(tagged.getString(5) == "fr")
    val ref = back.filter(col("p") === ":ref").head()
    assert(ref.getBoolean(4) && ref.getString(2) == "s:2")
  }

  test("Turtle tokenizer splits quoted literals and chains") {
    val toks = Turtle.tokenize("""ns0:1 ns0:p "a b ; c" ; ns0:q ns0:2 .""")
    assert(toks == Vector("ns0:1", "ns0:p", "\"a b ; c\"", ";", "ns0:q", "ns0:2", "."))
  }

  test("Turtle: 'a' keyword, comma object lists, bnodes, PREFIX form") {
    val lines = Seq(
      "PREFIX n: <nat:>", // Turtle 1.1 / SPARQL-style, no dot
      "@prefix t: <type:> .",
      "n:1 a t:Nation .",
      "n:2 n:p n:3, n:4 ; n:q \"x\", \"y\"@en .", // attached commas
      "_:b1 n:p _:b2 .")
      .toDF("line")
    val got = Turtle.parse(spark, lines).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getBoolean(4))).toSet
    assert(got == Set(
      ("nat:1", "rdf:type", "type:Nation", true),
      ("nat:2", "nat:p", "nat:3", true),
      ("nat:2", "nat:p", "nat:4", true),
      ("nat:2", "nat:q", "x", false),
      ("nat:2", "nat:q", "y", false),
      ("_:b1", "nat:p", "_:b2", true)))
    // lang tag survives the comma list
    assert(Turtle.parse(spark, lines)
      .filter(col("o") === "y").head().getString(5) == "en")
    // 'a' is the type keyword ONLY in predicate position
    intercept[Exception] {
      Turtle.parse(spark, Seq("@prefix n: <nat:> .", "n:1 n:p a .")
        .toDF("line")).collect()
    }
  }

  test("RdfImport reads http sources with header params") {
    // local HTTP fixture (JDK built-in server) — parity with the
    // reference's importRDF(url, format, headerParams) entry point
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val seenAuth = new java.util.concurrent.atomic.AtomicReference[String]
    server.createContext("/dump.nt", (ex: com.sun.net.httpserver.HttpExchange) => {
      seenAuth.set(ex.getRequestHeaders.getFirst("Authorization"))
      val body = "<s:1> <:p> \"v\" .\n<s:2> <:p> \"w\" .\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/dump.nt"
      val got = RdfImport.read(spark, url, "ntriples",
        headerParams = Map("Authorization" -> "Bearer t0k"))
      assert(got.count() == 2)
      assert(seenAuth.get() == "Bearer t0k")
      // header params on a storage path are a caller bug, not a no-op
      intercept[IllegalArgumentException](
        RdfImport.read(spark, "/tmp/nope.nt", "ntriples",
          headerParams = Map("a" -> "b")))
    } finally server.stop(0)
  }

  test("PropertyGraph splits labels, props, edges; dedups edges") {
    val t = Seq(
      ("n:1", "rdf:type", ":A", Option.empty[Double], true, Option.empty[String]),
      ("n:1", "rdf:type", ":B", Option.empty[Double], true, Option.empty[String]),
      ("n:1", ":size", "3", Some(3.0), false, None),
      ("n:1", ":to", "n:2", None, true, None),
      ("n:1", ":to", "n:2", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val nodes = PropertyGraph.nodes(t).filter(col("uri") === "n:1").head()
    assert(nodes.getSeq[String](1) == Seq(":A", ":B"))
    assert(PropertyGraph.edges(t).count() == 1)
  }

  test("PropertyGraph multi-valued (s,p) literals pin the min-lex pair") {
    // chosen semantics (r10 verdict #9): several literals on one
    // property collapse to the (lex, num) pair of the MINIMUM lexical
    // value — one coherent source triple, never min-lex of one value
    // paired with min-num of another, never last-write-wins
    val t = Seq(
      ("n:1", ":score", "9", Some(9.0), false, Option.empty[String]),
      ("n:1", ":score", "10", Some(10.0), false, None),
      ("n:1", ":score", "2", Some(2.0), false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val r = PropertyGraph.nodes(t).head()
    assert(r.getMap[String, String](2) == Map(":score" -> "10"),
      "lexical min: \"10\" < \"2\" < \"9\" as strings")
    assert(r.getMap[String, Double](3) == Map(":score" -> 10.0),
      "the numeric companion must come from the SAME triple as the lex")
  }

  test("PropertyGraph multi-valued view keeps ALL values and round-trips") {
    // the MultiMetaNeo4jTrait semantics (VERDICT r11 gap #2): a
    // repeated (s,p) becomes a sorted value ARRAY, numeric companions
    // aligned by position; toTriplesMulti explodes back losslessly
    val t = Seq(
      ("n:1", "rdf:type", ":Thing", Option.empty[Double], true, Option.empty[String]),
      ("n:1", ":score", "9", Some(9.0), false, None),
      ("n:1", ":score", "10", Some(10.0), false, None),
      ("n:1", ":score", "2", Some(2.0), false, None),
      ("n:1", ":tag", "x", None, false, None),
      ("n:1", ":likes", "n:2", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val nodes = PropertyGraph.nodesMulti(t)
    val r = nodes.head()
    // lexical sort: "10" < "2" < "9"
    val pm = r.getMap[String, scala.collection.Seq[String]](2)
      .map { case (k, v) => (k, v.toList) }
    assert(pm == Map(":score" -> List("10", "2", "9"), ":tag" -> List("x")))
    assert(r.getMap[String, scala.collection.Seq[Double]](3)(":score").toList ==
      List(10.0, 2.0, 9.0),
      "numeric companions must ride in the same sorted positions")
    // round trip: same triple SET (lang is null throughout here)
    val back = PropertyGraph.toTriplesMulti(nodes, PropertyGraph.edges(t))
    val orig = t.select("s", "p", "o", "o_num", "o_is_iri")
      .collect().map(_.toSeq).toSet
    val got = back.select("s", "p", "o", "o_num", "o_is_iri")
      .collect().map(_.toSeq).toSet
    assert(got == orig)
  }

  test("URI functions split on the last separator") {
    val df = Seq("http://ex.org/path#Frag", "cust:42", "plain")
      .toDF("u")
      .select(UriFunctions.namespace(col("u")).as("ns"),
        UriFunctions.localName(col("u")).as("l"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows(0) == ("http://ex.org/path#", "Frag"))
    assert(rows(1) == ("cust:", "42"))
    assert(rows(2) == ("", "plain"))
  }

  test("namespace registry is deterministic and shortens URIs") {
    val df = Seq("b:1", "a:2", "b:3").toDF("u")
    val reg = Namespaces.registry(df, col("u"))
    val m = reg.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(m == Map("a:" -> "ns0", "b:" -> "ns1"))
    val short = Namespaces.shorten(df, reg, "u").collect().map(_.getString(0)).toSet
    assert(short == Set("ns1:1", "ns0:2", "ns1:3"))
  }

  test("N-Quads distinguishes a graph label from an IRI object") {
    val lines = Seq(
      "<s:1> <p:a> <o:1> .",                       // 3-term: IRI object
      "<s:1> <p:a> <o:1> <g:x> .",                 // 4-term: graph
      "<s:2> <p:b> \"lit with <g:fake>\" .",       // quote blocks misread
      "<s:2> <p:c> \"5.0\"^^<http://www.w3.org/2001/XMLSchema#double> <g:y> .",
      "<s:3> <p:d> \"hi\"@en <g:y> .")
      .toDF("line")
    val q = NQuads.parse(lines).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(q == Set(
      ("", "s:1", "p:a", "o:1"),
      ("g:x", "s:1", "p:a", "o:1"),
      ("", "s:2", "p:b", "lit with <g:fake>"),
      ("g:y", "s:2", "p:c", "5.0"),
      ("g:y", "s:3", "p:d", "hi")))
  }

  test("N-Quads round-trip preserves graphs, types, and language tags") {
    val quads = Seq(
      ("", "s:1", "p:a", "o:1", Option.empty[Double], true, Option.empty[String]),
      ("g:x", "s:1", "p:n", "12.5", Some(12.5), false, None),
      ("g:y", "s:2", "p:l", "bonjour", None, false, Some("fr")),
      ("g:y", "s:2", "p:t", "tab\tand \"quote\"", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    val back = NQuads.parse(NQuads.format(quads))
      .select("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
      .as[(String, String, String, String, Option[Double], Boolean, Option[String])]
      .collect().toSet
    assert(back == Set(
      ("", "s:1", "p:a", "o:1", None, true, None),
      ("g:x", "s:1", "p:n", "12.5", Some(12.5), false, None),
      ("g:y", "s:2", "p:l", "bonjour", None, false, Some("fr")),
      ("g:y", "s:2", "p:t", "tab\tand \"quote\"", None, false, None)))
  }

  test("LPG → RDF round-trips the lang-free triple relation") {
    val langFree = nasty.filter(col("lang").isNull)
      .unionAll(Seq(("s:1", "rdf:type", ":Thing", Option.empty[Double], true,
        Option.empty[String])).toDF("s", "p", "o", "o_num", "o_is_iri", "lang"))
    val back = PropertyGraph.toTriples(
      PropertyGraph.nodes(langFree), PropertyGraph.edges(langFree))
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .as[(String, String, String, Option[Double], Boolean, Option[String])]
      .collect().toSet
    assert(key(back) == key(langFree))
  }

  test("graph management: clear/copy/add/move derive the quad dataset") {
    val quads = Seq(
      ("g:a", "s:1", ":p", "x", Option.empty[Double], false, Option.empty[String]),
      ("g:a", "s:2", ":p", "y", None, false, None),
      ("g:b", "s:1", ":p", "x", None, false, None))
      .toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts(TripleOps.clearGraph(quads, "g:a")) == Map("g:b" -> 1L))
    // copy replaces the target
    assert(counts(TripleOps.copyGraph(quads, "g:a", "g:b")) ==
      Map("g:a" -> 2L, "g:b" -> 2L))
    // add merges with set semantics: s:1/:p/x already in g:b
    assert(counts(TripleOps.addGraph(quads, "g:a", "g:b")) ==
      Map("g:a" -> 2L, "g:b" -> 2L))
    assert(counts(TripleOps.moveGraph(quads, "g:a", "g:b")) ==
      Map("g:b" -> 2L))
  }

  test("store add is idempotent and null-lang-safe; remove wildcards") {
    val store = nasty
    // re-adding the whole store (incl. null-lang literals) adds nothing
    assert(TripleOps.add(store, store).count() == store.count())
    // a genuinely new triple lands exactly once even when sent twice
    val delta = Seq(("s:9", ":new", "v", Option.empty[Double], false,
      Option.empty[String])).toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val grown = TripleOps.add(store, delta.unionAll(delta))
    assert(grown.count() == store.count() + 1)
    // same lexical, different language = a different literal
    val fr2 = Seq(("s:1", ":tagged", "bonjour", Option.empty[Double], false,
      Some("de"))).toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(TripleOps.add(store, fr2).count() == store.count() + 1)
    // remove by predicate wildcard, then by subject
    assert(TripleOps.remove(store, p = ":num").count() == store.count() - 1)
    assert(TripleOps.remove(store, s = "s:1").count() == 0)
    // object position: lexical wildcard by default, term-pinned with
    // oIsIri — an IRI edge and a lookalike literal are different terms
    val twins = Seq(
      ("s:1", ":edge", "p:2", Option.empty[Double], true, Option.empty[String]),
      ("s:1", ":label", "p:2", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(TripleOps.remove(twins, o = "p:2").count() == 0)
    assert(TripleOps.remove(twins, o = "p:2", oIsIri = Some(true))
      .select("p").as[String].collect().toSeq == Seq(":label"))
    assert(TripleOps.remove(twins, o = "p:2", oIsIri = Some(false))
      .select("p").as[String].collect().toSeq == Seq(":edge"))
    assert(TripleOps.subtract(store, store.limit(2)).count() ==
      store.count() - 2)
  }

  test("graph digest is order-independent and content-sensitive") {
    val t = Seq(("s:1", ":p", "o:1"), ("s:2", ":p", "o:2"),
      ("s:3", ":q", "o:3")).toDF("s", "p", "o")
    val d1 = Reification.graphDigest(t)
      .as[(Long, Long)].collect().head
    // any row order / partitioning yields the identical digest
    val d2 = Reification.graphDigest(t.orderBy(col("o").desc).repartition(3))
      .as[(Long, Long)].collect().head
    assert(d1 == d2 && d1._1 == 3L)
    // changing one triple changes the digest
    val t2 = Seq(("s:1", ":p", "o:1"), ("s:2", ":p", "o:2"),
      ("s:3", ":q", "o:CHANGED")).toDF("s", "p", "o")
    val d3 = Reification.graphDigest(t2).as[(Long, Long)].collect().head
    assert(d3._2 != d1._2)
  }

  test("skolemization is idempotent, injective on labels, literal-safe") {
    val t = Seq(
      ("_:a", ":p", "_:b"),   // blanks on both positions
      ("_:b", ":p", "s:1"),   // same label reused → same IRI
      ("s:1", ":q", "lit _:x inside")) // literal containing _: untouched
      .toDF("s", "p", "o")
    val once = Skolem.skolemize(t)
    val rows = once.as[(String, String, String)].collect()
    // no blank survives on resource positions; the literal is intact
    assert(rows.forall(r => !r._1.startsWith("_:")))
    assert(rows.exists(_._3 == "lit _:x inside"),
      "object literals must pass through even if they contain '_:'")
    // label identity: _:b as subject and as object mint the SAME IRI
    val skA = rows.find(r => r._3.startsWith("urn:skolem:")).map(_._3).get
    val skB = rows.find(r => r._1.startsWith("urn:skolem:") &&
      r._3 == "s:1").map(_._1).get
    assert(skA == skB, "the same label must mint the same IRI everywhere")
    // distinct labels mint distinct IRIs
    val subjIris = rows.map(_._1).filter(_.startsWith("urn:skolem:")).toSet
    assert(subjIris.size == 2)
    // idempotence: a second pass changes nothing
    val twice = Skolem.skolemize(once).as[(String, String, String)]
      .collect().toSet
    assert(twice == rows.toSet)
  }

  test("skolemization gates objects on o_is_iri when the store marker is present") {
    // RDF 1.1: only BLANK NODES may be skolemized. With the store's
    // o_is_iri marker available, a literal whose value starts with
    // "_:" is provably a literal and must pass through.
    val t = Seq(
      ("s:1", ":p", "_:b", true),          // blank object → minted
      ("s:2", ":q", "_:looks blank", false)) // literal → untouched
      .toDF("s", "p", "o", "o_is_iri")
    val objs = Skolem.skolemize(t).select("o").as[String].collect().toSet
    assert(objs.exists(_.startsWith("urn:skolem:")))
    assert(objs.contains("_:looks blank"),
      "a literal starting with '_:' must survive when o_is_iri=false")
  }

  test("canonical labels are isomorphism-invariant and refine through neighbors") {
    val g1 = Seq(("_:a", ":next", "_:b"), ("_:b", ":hasNation", "nat:1"))
      .toDF("s", "p", "o")
    val g2 = Seq(("_:q", ":next", "_:r"), ("_:r", ":hasNation", "nat:1"))
      .toDF("s", "p", "o")
    val l1 = Canon.canonLabels(g1).as[(String, String)].collect().toMap
    val l2 = Canon.canonLabels(g2).as[(String, String)].collect().toMap
    // isomorphic graphs with different local labels → identical label sets
    assert(l1.values.toSet == l2.values.toSet)
    // the chain positions are distinguishable
    assert(l1("_:a") != l1("_:b"))
    // _:a differs from g1's _:a ONLY through its neighbor's grounded
    // term — round 0 cannot see it, the refinement round must
    val g3 = Seq(("_:a", ":next", "_:b"), ("_:b", ":hasNation", "nat:2"))
      .toDF("s", "p", "o")
    val l3 = Canon.canonLabels(g3).as[(String, String)].collect().toMap
    assert(l3("_:a") != l1("_:a"))
  }

  test("rdf list unroll orders cons chains; singletons and multi-lists work") {
    val t = Seq(
      ("l1:0", "rdf:first", "a"), ("l1:0", "rdf:rest", "l1:1"),
      ("l1:1", "rdf:first", "b"), ("l1:1", "rdf:rest", "l1:2"),
      ("l1:2", "rdf:first", "c"), ("l1:2", "rdf:rest", "rdf:nil"),
      ("l2:0", "rdf:first", "x"), ("l2:0", "rdf:rest", "rdf:nil"),
      ("s:1", ":p", "o:1"))  // non-list triples pass through untouched
      .toDF("s", "p", "o")
    val got = RdfList.unroll(t)
      .as[(String, Int, String)].collect().toSet
    assert(got == Set(
      ("l1:0", 0, "a"), ("l1:0", 1, "b"), ("l1:0", 2, "c"),
      ("l2:0", 0, "x")))
  }

  test("rdf list unroll fails on a lasso naming its head; a maxLen-item list unrolls") {
    // c0 → c1 → c2 → c1: the chain never reaches rdf:nil
    val lasso = Seq(
      ("c0", "rdf:first", "a"), ("c0", "rdf:rest", "c1"),
      ("c1", "rdf:first", "b"), ("c1", "rdf:rest", "c2"),
      ("c2", "rdf:first", "c"), ("c2", "rdf:rest", "c1"))
      .toDF("s", "p", "o")
    val err = intercept[IllegalArgumentException](RdfList.unroll(lasso, maxLen = 8))
    assert(err.getMessage.contains("head c0"), err.getMessage)
    def list(n: Int) = (0 until n).flatMap(i => Seq(
      (s"l:$i", "rdf:first", s"i$i"),
      (s"l:$i", "rdf:rest", if (i == n - 1) "rdf:nil" else s"l:${i + 1}")))
      .toDF("s", "p", "o")
    assert(RdfList.unroll(list(8), maxLen = 8).as[(String, Int, String)].collect().toSet ==
      (0 until 8).map(i => ("l:0", i, s"i$i")).toSet)
    intercept[IllegalArgumentException](RdfList.unroll(list(9), maxLen = 8))
    graft.Checkpoints.releaseCaches()
  }

  test("canon digest is invariant under blank renaming; plain digest is not") {
    val g1 = Seq(("_:a", ":next", "_:b"), ("_:b", ":hasNation", "nat:1"))
      .toDF("s", "p", "o")
    val g2 = Seq(("_:q", ":next", "_:r"), ("_:r", ":hasNation", "nat:1"))
      .toDF("s", "p", "o")
    val d1 = Canon.canonDigest(g1).as[(Long, Long)].collect().head
    val d2 = Canon.canonDigest(g2).as[(Long, Long)].collect().head
    assert(d1 == d2, "isomorphic graphs must canon-digest equal")
    val p1 = Reification.graphDigest(g1).as[(Long, Long)].collect().head
    val p2 = Reification.graphDigest(g2).as[(Long, Long)].collect().head
    assert(p1._2 != p2._2, "the plain digest is label-dependent by design")
    // different structure → different canon digest
    val g3 = Seq(("_:a", ":next", "_:b"), ("_:b", ":hasNation", "nat:2"))
      .toDF("s", "p", "o")
    val d3 = Canon.canonDigest(g3).as[(Long, Long)].collect().head
    assert(d3._2 != d1._2)
  }

  test("reification is deterministic, content-addressed, 4 rows/stmt") {
    val t = Seq(("s:1", ":p", "o:1"), ("s:2", ":p", "lit"))
      .toDF("s", "p", "o")
    val r = Reification.reify(t).as[(String, String, String)].collect()
    assert(r.length == 4 * 2)
    val byStmt = r.groupBy(_._1)
    assert(byStmt.size == 2)
    // each statement resource carries exactly the four reification
    // predicates, and its object triple points back at the original o
    byStmt.values.foreach { rows =>
      assert(rows.map(_._2).toSet ==
        Set("rdf:type", "rdf:subject", "rdf:predicate", "rdf:object"))
    }
    // content-addressing: re-reifying yields the SAME statement IRIs
    val again = Reification.reify(t).select("s").as[String].collect().toSet
    assert(again == r.map(_._1).toSet)
    // distinct statements get distinct IRIs
    assert(r.map(_._1).toSet.size == 2)
  }

  test("FormatGuard caps driver-side document assembly loudly") {
    // over-cap: the guard fails with the pointed message BEFORE an
    // unbounded collect can OOM the driver (the limit rides into the
    // scan, so at most cap+1 rows ever materialize driver-side)
    val big = spark.range(0, 50).select(
      lit("s:hub").as("s"), lit(":p").as("p"),
      concat(lit("o:"), col("id")).as("o"),
      lit(null).cast("double").as("o_num"), lit(true).as("o_is_iri"),
      lit(null).cast("string").as("lang"))
    sys.props("graft.format.collect.max") = "10"
    try {
      val e = intercept[IllegalStateException](RdfXml.formatString(big))
      assert(e.getMessage.contains("driver-assembly cap"))
      assert(e.getMessage.contains("NTriples.write"))
      val e2 = intercept[IllegalStateException](
        Endpoint.describeAs(big, "s:hub", "turtle"))
      assert(e2.getMessage.contains("driver-assembly cap"))
    } finally sys.props.remove("graft.format.collect.max")
    // under-cap: identical output to the unguarded path — round-trips
    val back = RdfXml.parse(spark, RdfXml.formatString(nasty))
    assert(back.count() == nasty.count())
    assert(Endpoint.describeAs(nasty, "s:2", "ntriples").contains("s:2"))
  }

  test("triple store: every layout holds the same multiset of triples") {
    val dir = SharedSpark.sfDir
    val reference = RdfModel.tpchTriplesSet(spark, dir)
    val cols = reference.columns.toSeq
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    // the served store is the one layout every reader uses
    val served = graft.Graft.triples(spark, dir)
    // names and types match; the read-back may only widen nullability
    assert(typed(served) == typed(reference), "served schema")
    val aligned = served.select(cols.map(col): _*)
    assert(aligned.count() == reference.count(), "served count")
    assert(aligned.exceptAll(reference).isEmpty, "served holds extra rows")
    assert(reference.exceptAll(aligned).isEmpty, "served misses rows")
  }

  test("triple store: a constant-predicate pattern skips cached batches") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the columnar form; the shared session's store is persisted rows
    val store = TripleStore.triples(SharedSpark.columnar, SharedSpark.sfDir)
    val df = graft.Graft.sparql(store, "SELECT ?c ?n WHERE { ?c :hasNation ?n }")
    assert(df.collect().nonEmpty)
    val scans = new AdaptiveSparkPlanHelper {}.collect(
      df.queryExecution.executedPlan) { case s: InMemoryTableScanExec => s }
    assert(scans.size == 1, s"one store scan expected, got ${scans.size}")
    // the write clusters rows by predicate, so the cached batches'
    // min/max stats on p exclude most of them; unclustered, every
    // batch spans the predicate range and the scan reads the store
    val read = scans.head.metrics("numOutputRows").value
    assert(read > 0 && read < store.count(),
      s"the scan read $read of ${store.count()} rows")
  }

  test("triple store: served from a file scan, not the derivation's lineage") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val store = TripleStore.triples(SharedSpark.columnar, SharedSpark.sfDir)
    // the frame every query builds on is a coalesce over the parquet
    // read-back; the derivation would be ~55 nodes of unions and
    // explodes re-analyzed by every query
    val nodes = store.queryExecution.analyzed.collect { case n => n }.size
    assert(nodes <= 3, s"served store plan has $nodes nodes")
    val cached = store.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }
    assert(cached.isDefined, "the store must be served from the cache")
    def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[String] =
      r.getClass.getSimpleName +: r.dependencies.flatMap(d => lineage(d.rdd))
    val rdds = lineage(cached.get.cacheBuilder.cachedColumnBuffers)
    assert(!rdds.contains("UnionRDD") && !rdds.contains("ShuffledRowRDD"),
      s"cached buffers must not carry the build lineage: $rdds")
  }

  test("triple store: the row form scans the persisted rows of a file scan") {
    import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the shared session's 65,095-triple store is within Regime.budget
    val store = TripleStore.triples(spark, SharedSpark.sfDir)
    val rows = store.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd
      case other => fail(s"the store must be one RDD-backed leaf: $other")
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(rows.id),
      "the store's rows must be persisted")
    // join planning sees the read-back's size statistics, not the
    // unknown size of an RDD
    val fileBytes = TripleStore.storeDir(spark, SharedSpark.sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(store.queryExecution.optimizedPlan.stats.sizeInBytes == fileBytes,
      "the rows must carry the read-back's size statistics")
    val df = graft.Graft.sparql(store, "SELECT ?c ?n WHERE { ?c :hasNation ?n }")
    assert(df.collect().nonEmpty)
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    assert(helper.collect(plan) { case s: RDDScanExec if s.rdd eq rows => s }.size == 1,
      "one scan of the persisted rows expected")
    assert(helper.collect(plan) { case s: InMemoryTableScanExec => s }.isEmpty,
      "the row form has no columnar cache scan")
    def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[String] =
      r.getClass.getSimpleName +: r.dependencies.flatMap(d => lineage(d.rdd))
    val rdds = lineage(rows)
    assert(rdds.last == "FileScanRDD", s"the rows must be read from the files: $rdds")
    assert(!rdds.contains("UnionRDD") && !rdds.contains("ShuffledRowRDD"),
      s"persisted rows must not carry the build lineage: $rdds")
  }

  test("triple store: eviction drops the dimension slice and the files") {
    // a separate session, so the shared store other suites hold stays;
    // gated at 0 triples, so the store is the columnar form
    val s = spark.newSession()
    TripleStore.gateAt(s, 0)
    val dir = SharedSpark.sfDir
    val want = RdfModel.tpchTriplesSet(s, dir)
      .filter(!col("s").startsWith("line:"))
    val store = TripleStore.triples(s, dir)
    val before = TripleStore.dimensionTriples(s, dir)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val files = store.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location.rootPaths }.flatten
      .map(p => new java.io.File(p.toUri))
    assert(files.nonEmpty && files.forall(_.exists))
    TripleStore.evictTriples(s, dir)
    assert(!files.exists(_.exists), "eviction must delete the store's files")
    assert(!store.storageLevel.useMemory, "eviction must unpersist the store")
    val after = TripleStore.dimensionTriples(s, dir)
    assert(!(after eq before), "the slice must be re-derived over the new store")
    assert(after.count() == want.count())
    assert(after.exceptAll(want).isEmpty && want.exceptAll(after).isEmpty)
    TripleStore.evictTriples(s, dir)
  }

  test("triple store: eviction unpersists the row form and deletes its files") {
    import org.apache.spark.sql.execution.LogicalRDD
    val s = spark.newSession()
    val dir = SharedSpark.sfDir
    val store = TripleStore.triples(s, dir)
    val rows = store.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    val before = TripleStore.dimensionTriples(s, dir)
    val want = before.collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty)
    val files = TripleStore.storeDir(s, dir)
    assert(files.exists && s.sparkContext.getPersistentRDDs.contains(rows.id))
    TripleStore.evictTriples(s, dir)
    assert(!files.exists, "eviction must delete the store's files")
    assert(!s.sparkContext.getPersistentRDDs.contains(rows.id),
      "eviction must unpersist the store's rows")
    val after = TripleStore.dimensionTriples(s, dir)
    assert(!(after eq before), "the slice must be re-derived over the new store")
    assert(after.collect().map(_.toString).sorted.toSeq == want)
    TripleStore.evictTriples(s, dir)
  }

  test("triple store: a dead process's store directory is swept") {
    // no process can hold a pid this large (Linux caps pid_max at 2^22)
    val dead = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_triples_2147483000_1_store_sf")
    val live = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_triples_${ProcessHandle.current().pid()}_1_store_sf")
    Seq(dead, live).foreach { d =>
      d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "part-0.parquet").toPath,
        Array[Byte](1))
    }
    try {
      TripleStore.sweepStaleScratch()
      assert(!dead.exists, "a dead pid's store must be reaped")
      assert(live.exists, "this process's own store must stay")
    } finally Seq(dead, live).foreach { d =>
      Option(d.listFiles()).foreach(_.foreach(_.delete()))
      d.delete()
    }
  }
}
