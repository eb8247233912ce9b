package graft.inference

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class InferenceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("transitive closure on a chain and a diamond") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("x", "y1"), ("x", "y2"), ("y1", "z"), ("y2", "z"))
      .toDF("sub", "sup")
    val got = Closure.transitive(edges).as[(String, String)].collect().toSet
    assert(got == Set(
      ("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("b", "d"), ("a", "d"),
      ("x", "y1"), ("x", "y2"), ("y1", "z"), ("y2", "z"), ("x", "z")))
  }

  test("below() is reflexive at the top") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("sub", "sup")
    assert(Closure.below(edges, "c").as[String].collect().toSet == Set("a", "b", "c"))
    assert(Closure.below(edges, "b").as[String].collect().toSet == Set("a", "b"))
  }

  test("seeded closures: the driver and Spark regimes give identical rows") {
    // budget 0 forces the Spark frontier BFS (every graph has an edge);
    // the shared budget runs the BFS on the driver
    val budget = graft.rdf.TripleStats.smallRows
    val graphs = Seq(
      Seq(("a", "b"), ("b", "c"), ("c", "d")),               // chain
      Seq(("a", "b"), ("b", "c"), ("c", "a")),               // cycle back to the seed
      Seq(("a", "a"), ("a", "b")),                           // self-loop
      Seq(("a", "b1"), ("a", "b2"), ("b1", "c"), ("b2", "c")), // diamond
      Seq(("b", "a"), ("c", "b")),                           // seed with no out-edges
      Seq(("a", "b"), ("b", null), ("x", "a"), (null, "a"))) // null endpoints
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(r => Option(r.getString(0))).sorted
    val seeds = Seq("a", "q").toDF("src")
    for (g <- graphs) {
      val edges = g.toDF("sub", "sup")
      for ((driver, inSpark) <- Seq(
        Closure.reachableFrom(edges, "a", budget) -> Closure.reachableFrom(edges, "a", 0),
        Closure.reachableFromAny(edges, seeds, budget) ->
          Closure.reachableFromAny(edges, seeds, 0),
        Closure.below(edges, "a", budget) -> Closure.below(edges, "a", 0))) {
        assert(driver.isLocal && !inSpark.isLocal, g)
        assert(rows(driver) == rows(inSpark), g)
        assert(driver.schema == inSpark.schema, g)
      }
    }
    val cycle = graphs(1).toDF("sub", "sup")
    assert(rows(Closure.reachableFrom(cycle, "a")).flatten == Seq("a", "b", "c"))
    graft.Checkpoints.releaseCaches()
  }

  test("a seeded closure over a small relation fires at most 2 jobs and checkpoints nothing") {
    import org.apache.spark.graft.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // three partitions, so the bounded fetch is a real scan, not a
    // local relation the planner answers without a job
    val edges = sc.parallelize(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")), 3)
      .toDF("sub", "sup")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    val persisted = sc.getPersistentRDDs.keySet
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val got = try {
      val r = Closure.reachableFrom(edges, "a").as[String].collect().toSet
      ListenerBusDrain.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(got == Set("a", "b", "c", "d"))
    assert(jobs.get <= 2, s"${jobs.get} jobs")
    assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty)
  }

  test("driver closure equals Closure.transitive, and terminates on a cycle") {
    def sparkClosure(pairs: Seq[(String, String)]) =
      Closure.transitive(pairs.toDF("sub", "sup")).as[(String, String)].collect().toSet
    val cyclic = Seq(("a", "b"), ("b", "a"), ("b", "c"))
    for (pairs <- Seq(Ontology.subClassOf, Ontology.subPropertyOf, cyclic))
      assert(Ontology.close(pairs) == sparkClosure(pairs))
    assert(Ontology.close(cyclic) == Set(
      ("a", "b"), ("b", "a"), ("b", "c"), ("a", "a"), ("b", "b"), ("a", "c")))
    assert(Ontology.below(Ontology.subClassClosure, ":Agent") ==
      Seq(":Agent", ":Customer", ":Supplier"))
  }

  test("nodesWithLabel fires no Spark job until its result is collected") {
    import org.apache.spark.graft.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val t = Seq(("c:1", "rdf:type", ":Customer"), ("p:1", "rdf:type", ":Part"))
      .map { case (a, b, c) => (a, b, c, Option.empty[Double], true, Option.empty[String]) }
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val labelled = try {
      val df = Reasoner.nodesWithLabel(spark, t, ":Agent")
      ListenerBusDrain.drain(sc)
      df
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0)
    assert(labelled.as[String].collect().toSet == Set("c:1"))
  }

  test("importLite types meta-nodes and falls back to local names") {
    val t = Seq(
      ("o:C1", "rdf:type", "owl:Class", Option.empty[Double], true, Option.empty[String]),
      ("o:C1", "rdfs:label", "Customer Class", None, false, None),
      ("o:p1", "rdf:type", "owl:ObjectProperty", None, true, None),
      ("o:d1", "rdf:type", "owl:DatatypeProperty", None, true, None),
      ("o:x", "rdf:type", "o:SomethingElse", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val got = Ontology.importLite(t)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("o:C1", "Class", "Customer Class"),
      ("o:p1", "Relationship", "p1"),
      ("o:d1", "Property", "d1")))
  }

  test("nodesInCategory walks the data-side category hierarchy") {
    val edges = Seq(
      ("catB", ":sub", "catA"), ("catC", ":sub", "catB"),
      ("x", ":in", "catC"), ("y", ":in", "catA"), ("z", ":in", "other"))
      .toDF("src", "rel", "dst")
    val got = Reasoner.nodesInCategory(spark, edges, "catA", ":sub", ":in")
      .as[String].collect().toSet
    assert(got == Set("x", "y"))
  }

  test("ontology reasoners agree with the static hierarchy") {
    val t = Seq(
      ("c:1", "rdf:type", ":Customer"),
      ("s:1", "rdf:type", ":Supplier"),
      ("p:1", "rdf:type", ":Part"))
      .map { case (a, b, c) => (a, b, c, Option.empty[Double], true, Option.empty[String]) }
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(Reasoner.nodesWithLabel(spark, t, ":Agent")
      .as[String].collect().toSet == Set("c:1", "s:1"))
    assert(Reasoner.nodesWithLabel(spark, t, ":Thing")
      .as[String].collect().toSet == Set("c:1", "s:1", "p:1"))
    val has = Reasoner.hasLabel(spark, t, ":Artifact")
      .as[(String, Boolean)].collect().toMap
    assert(has == Map("c:1" -> false, "s:1" -> false, "p:1" -> true))
  }

  test("propertyChain entails r along every p1∘p2 instance, deduped") {
    val t = Seq(
      ("a", ":p1", "m"), ("m", ":p2", "x"),   // chain a→m→x
      ("a", ":p1", "m2"), ("m2", ":p2", "x"), // second route, same pair
      ("b", ":p1", "m"),                       // chain b→m→x
      ("m", ":p1", "y"),                       // p1 out of a p2 middle: no chain
      ("z", ":p2", "w"))                       // bare p2: no chain
      .toDF("s", "p", "o")
    val got = Reasoner.propertyChain(t, Seq(":p1", ":p2"), ":r")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("a", ":r", "x"), ("b", ":r", "x")))
  }

  test("inverseEdges entails both directions of a declared inverse") {
    val e = Seq(
      ("c:1", ":hasNation", "n:1"),
      // an already-materialized inverse entails the forward edge back
      ("n:2", ":nationOf", "c:2"),
      // undeclared relation: no entailment
      ("c:1", ":name", "x"))
      .toDF("src", "rel", "dst")
    val got = Reasoner.inverseEdges(spark, e)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("n:1", ":nationOf", "c:1"),
      ("c:2", ":hasNation", "n:2")))
  }

  test("relsOf anchors a node and filters by direction under SRO closure") {
    // :hasNation and :inRegion are subproperties of :locatedIn
    val edges = Seq(
      ("c:1", ":hasNation", "n:1"), ("n:1", ":inRegion", "r:1"),
      ("c:2", ":hasNation", "n:2"), ("c:9", ":other", "n:1"))
      .toDF("src", "rel", "dst")
    def got(dir: String) =
      Reasoner.relsOf(spark, edges, "n:1", ":locatedIn", dir)
        .as[(String, String, String)].collect().toSet
    assert(got(">") == Set((">", ":inRegion", "r:1")))
    assert(got("<") == Set(("<", ":hasNation", "c:1")))
    assert(got("") == Set((">", ":inRegion", "r:1"), ("<", ":hasNation", "c:1")))
  }

  test("transitive property entailment composes the subproperty lift") {
    // :hasNation/:inRegion lift to :locatedIn (rdfs7), which is
    // declared owl:TransitiveProperty — the chain closes across the
    // two DIFFERENT base predicates; unrelated edges never enter
    val edges = Seq(
      ("c:1", ":hasNation", "n:1"), ("n:1", ":inRegion", "r:1"),
      ("c:2", ":hasNation", "n:2"),
      ("c:9", ":other", "n:1"))
      .toDF("src", "rel", "dst")
    val got = Reasoner.transitiveEdges(spark, edges)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("c:1", ":locatedIn", "n:1"),
      ("n:1", ":locatedIn", "r:1"),
      ("c:1", ":locatedIn", "r:1"), // the composed entailment
      ("c:2", ":locatedIn", "n:2")))
  }

  test("sameAs canonicalMap: the driver and Spark regimes give identical rows") {
    // budget 0 forces GraphX CC; the shared budget runs union-find on
    // the driver
    val budget = graft.rdf.TripleStats.smallRows
    val graphs = Seq(
      Seq(("e:1", "e:2"), ("e:2", "e:3"), ("e:3", "e:4")),              // chain
      Seq(("e:1", "e:2"), ("e:2", "e:3"), ("e:3", "e:1")),              // cycle
      Seq(("e:1", "e:1"), ("e:1", "e:2")),                              // self-loop
      (1 to 6).map(v => ("e:0", s"e:$v")),                              // star
      Seq(("e:9", "e:10"), ("e:20", "e:21"), ("e:21", "e:11")),         // two components
      Seq(("e:2", "e:1"), ("e:2", "e:1"), ("e:1", "e:2")),              // duplicated links
      Seq(("e:1", "e:2"), ("e:3", null), (null, "e:4"), (null, null)))  // null endpoints
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (g <- graphs) {
      val links = g.toDF("s", "o")
      val driver = SameAs.canonicalMap(spark, links, budget)
      val inSpark = SameAs.canonicalMap(spark, links, 0)
      assert(driver.isLocal && !inSpark.isLocal, g)
      assert(rows(driver) == rows(inSpark), g)
      assert(driver.schema == inSpark.schema, g)
    }
    graft.Checkpoints.releaseCaches()
  }

  test("sameAs canonicalization smushes chains, spares literal lookalikes") {
    val store = Seq(
      // one entity under three URIs, linked by a CHAIN (a→b, b→c):
      // resolution must be transitive to reunite all three
      ("e:a", ":p1", "v1", Option.empty[Double], false, Option.empty[String]),
      ("e:b", ":p2", "v2", None, false, None),
      ("e:c", ":p3", "e:ref", None, true, None),
      ("e:a", "owl:sameAs", "e:b", None, true, None),
      ("e:b", "owl:sameAs", "e:c", None, true, None),
      // an IRI object inside the cluster rewrites too
      ("x:1", ":link", "e:b", None, true, None),
      // a LITERAL spelled like a clustered URI is a different term
      ("x:1", ":label", "e:b", None, false, None),
      // malformed sameAs with a literal object: dropped, never a link
      ("x:1", "owl:sameAs", "e:b", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val got = SameAs.canonicalize(spark, store)
      .select("s", "p", "o").as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("e:a", ":p1", "v1"),
      ("e:a", ":p2", "v2"),   // e:b's triple moved to the canon e:a
      ("e:a", ":p3", "e:ref"), // e:c's too (transitive hop)
      ("x:1", ":link", "e:a"), // IRI object rewritten
      ("x:1", ":label", "e:b"))) // literal untouched; sameAs dropped
  }
}
