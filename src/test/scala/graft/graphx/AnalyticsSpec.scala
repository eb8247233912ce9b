package graft.graphx

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // a triangle a-b-c plus a pendant d and an isolated pair e-f
  private lazy val edges = Seq(
    ("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("e", "f"))
    .toDF("src", "dst")

  test("degrees") {
    val d = Analytics.degrees(spark, edges)
      .as[(String, Int, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(d("a") == ((0, 2)) && d("c") == ((2, 1)) && d("f") == ((1, 0)))
  }

  test("connected components sized and named by min uri") {
    val cc = Analytics.connectedComponents(spark, edges)
      .as[(String, Long)].collect().toSet
    assert(cc == Set(("a", 4L), ("e", 2L)))
  }

  test("componentsByIdDF agrees with GraphX on labels, including chains") {
    // The DataFrame twin this name refers to is gone; the name stays so the
    // test keeps its identity, and it now asserts the GraphX labels
    // directly: every vertex gets its component's minimum id.
    // a 6-chain (diameter stresses Pregel's superstep loop), a 2-cycle,
    // and an isolated pair
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 10L), (20L, 21L)).toDF("src", "dst")
    val comp = Analytics.componentsById(spark, e)
      .as[(Long, Long)].collect().toMap
    assert(comp == ((1L to 6L).map(_ -> 1L) ++ Seq(10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L)).toMap)
  }

  test("triangle count") {
    assert(Analytics.triangleTotal(spark, edges).as[Long].head() == 1L)
  }

  test("shortest hops from a source set, undirected") {
    val sources = Seq("a").toDF("uri")
    val d = Analytics.shortestHops(spark, edges, sources)
      .as[(String, Int)].collect().toMap
    assert(d == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
  }

  test("pagerank ranks the triangle above the pendant") {
    val pr = Analytics.pageRank(spark, edges, 10).as[(String, Long)].collect().toMap
    assert(pr("c") > pr("b"))
  }

  test("pagerank fixed-point arithmetic is exact") {
    // after one iteration: f got e's full initial rank (outdeg 1), so
    // r(f) = 0.15·1e9 + 0.85·1e9 exactly; e received nothing
    val pr = Analytics.pageRank(spark, edges, 1).as[(String, Long)].collect().toMap
    assert(pr("f") == 1000000000L)
    assert(pr("e") == 150000000L)
    // b got half of a's rank: 0.15e9 + (1e9 div 2)·85/100 = 575000000
    assert(pr("b") == 575000000L)
  }

  test("k-core peels pendants and cascades, bounded by rounds") {
    // triangle a-b-c with pendant tail c-d
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    // both sides of the regime gate: the driver peel, then Spark's
    for (budget <- Seq(graft.rdf.TripleStats.smallRows, 0L)) {
      def core(k: Int, rounds: Int) =
        Analytics.kCore(tri, k, rounds, budget).as[String].collect().toSet
      assert(core(2, 3) == Set("a", "b", "c")) // pendant d peels, triangle stays
      assert(core(3, 3).isEmpty)               // no 3-core in a triangle
      // chain: the peel cascades one layer per round
      def chainCore(rounds: Int) =
        Analytics.kCore(chain, 2, rounds, budget).as[String].collect().toSet
      assert(chainCore(1) == Set("b", "c")) // ends gone after one round
      assert(chainCore(2).isEmpty)          // the rest follows next round
    }
  }

  test("k-core converges to the fixpoint where a fixed bound under-peels") {
    // a 12-node path: each k=2 peel round only removes the two ends,
    // so 4 rounds (the old fixed bound) leave a non-empty superset
    // while the true 2-core is empty
    val path = (1 to 11).map(i => (f"v$i%02d", f"v${i + 1}%02d")).toDF("src", "dst")
    for (budget <- Seq(graft.rdf.TripleStats.smallRows, 0L)) {
      val bounded = Analytics.kCore(path, 2, maxRounds = 4, budget).as[String].collect()
      assert(bounded.nonEmpty) // the bound demonstrably under-peels
      val full = Analytics.kCore(path, 2, 10000, budget).as[String].collect()
      assert(full.isEmpty)
      assert(Analytics.lastKCoreRounds > 4)
    }
  }

  test("label propagation separates disconnected communities deterministically") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val got = Analytics.labelPropagation(e, rounds = 4)
      .as[(Long, Long)].collect().toMap
    // each triangle settles on its own min-id label; no cross-talk
    assert(Seq(1L, 2L, 3L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
  }

  test("scc separates cycles from tails and labels by min member") {
    // 3-cycle {1,2,3}, 2-cycle {10,11} fed by the bridge 3→10,
    // directed chain 20→21→22, and an inbound tail 30→1: tails and
    // chains must stay singletons even though CC would merge them
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 10L), (3L, 10L),
      (20L, 21L), (21L, 22L), (30L, 1L),
      (40L, 40L)).toDF("src", "dst") // self-loop-only vertex
    val got = Analytics.stronglyConnectedComponents(e)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 10)
    assert(Seq(1L, 2L, 3L).forall(got(_) == 1L))
    assert(Seq(10L, 11L).forall(got(_) == 10L))
    // tails, chain members, and the self-loop vertex stay singletons
    assert(Seq(20L, 21L, 22L, 30L, 40L).forall(v => got(v) == v))
  }

  test("common neighbors ranks non-adjacent pairs by shared neighbors") {
    // square 1-2-3-4-1 with diagonal 1-3 and pendant 5 on 4: the
    // ADJACENT pair (1,3) shares two neighbors but must be pruned by
    // the anti-join; the open diagonal (2,4) wins with cn=2
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val got = Analytics.commonNeighbors(e)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (2L, 4L, 2L, 2L, 3L),
      (1L, 5L, 1L, 3L, 1L),
      (3L, 5L, 1L, 3L, 1L)))
  }

  test("common neighbors canonicalizes reversed and duplicated edges") {
    // the same square graph with edges reversed and duplicated: the
    // least/greatest + distinct canonicalization must make degrees
    // and anti-join identical to the canonical input (ADVICE r11)
    val canon = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val messy = Seq((2L, 1L), (2L, 3L), (4L, 3L), (1L, 4L), (1L, 3L),
      (3L, 1L), (4L, 5L), (5L, 4L), (2L, 1L))
      .toDF("src", "dst")
    val a = Analytics.commonNeighbors(canon)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val b = Analytics.commonNeighbors(messy)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("common neighbors wedge gate caps hub middles when over budget") {
    // star center 0 with leaves 1..6 (deg(0)=6 → 15 wedge pairs) plus
    // a triangle-free 4-path 10-11-12-13; total volume 15+1+1+... —
    // budget 5 forces the cap below deg 6, so the star's pairs vanish
    // and only low-degree middles survive; endpoint degrees stay exact
    val e = (1L to 6L).map(v => (0L, v)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 13L))
    val got = Analytics.commonNeighbors(e.toDF("src", "dst"),
        wedgeBudget = 5L)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // middles deg<=cap: path middles 11,12 (deg 2) fit (vol 1 each,
    // cum 2 <= 5); center 0 (deg 6, vol 15) does not
    assert(got == Seq((10L, 12L, 1L, 1L, 2L), (11L, 13L, 1L, 2L, 1L)))
    // exact run (no budget) additionally ranks the 15 star pairs first
    val exact = Analytics.commonNeighbors(e.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(exact.head == (1L, 2L, 1L, 1L, 1L) && exact.size == 17)
  }

  test("jaccard link prediction gates and canonicalizes like cn") {
    val canon = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val messy = Seq((2L, 1L), (3L, 2L), (3L, 4L), (1L, 4L), (3L, 1L),
      (4L, 5L), (4L, 5L)).toDF("src", "dst")
    val a = Analytics.jaccardLinkPred(canon)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val b = Analytics.jaccardLinkPred(messy)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(a == b)
    // (2,4): cn=2 over union 2+3-2=3 → 666666; ranked first
    assert(a.head == (2L, 4L, 2L, 3L, 666666L))
    // forced gate on the star+path graph mirrors the cn capped run
    val e = ((1L to 6L).map(v => (0L, v)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 13L))).toDF("src", "dst")
    val gated = Analytics.jaccardLinkPred(e, wedgeBudget = 5L)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(gated == Seq((10L, 12L, 1L, 2L, 500000L),
      (11L, 13L, 1L, 2L, 500000L)))
  }

  test("resource allocation weights middles inversely to their degree") {
    // same square+diagonal+pendant as the cn test: (2,4) shares
    // middles 1 and 3 (deg 3 each) → ra = 2·floor(1e9/3); (1,5) and
    // (3,5) share only middle 4 (deg 3) → floor(1e9/3)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val got = Analytics.resourceAllocation(e)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (2L, 4L, 2 * (1000000000L / 3), 2L),
      (1L, 5L, 1000000000L / 3, 1L),
      (3L, 5L, 1000000000L / 3, 1L)))
  }

  test("katz centrality folds the walk recurrence exactly") {
    // path 1-2-3: deg (1,2,1); walks2 = sum of neighbor degs:
    // 1→2, 2→2, 3→2; walks3: 1→w2(2)=2, 2→w2(1)+w2(3)=4, 3→2.
    // katz_e = 64·w1 + 8·w2 + w3 → 1:64+16+2=82, 2:128+16+4=148, 3:82
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Analytics.katzCentrality(e)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 148L), (1L, 82L), (3L, 82L)))
  }

  test("hits integer rounds rank breadth-weighted authorities") {
    // hubs 1,2,3 → authorities 10,11,12: part 10 bought by all three,
    // 11 by {1,2}, 12 only by 3. a1 = indegree (3,2,1); h1 = 1:5, 2:5,
    // 3:4; a2 = 10:14, 11:10, 12:4 — authority 11 (2 buyers, both
    // broad) must beat 12 (1 buyer) AFTER weighting, and hub 3 must
    // trail despite touching the top authority
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L),
      (3L, 12L)).toDF("src", "dst")
    val got = Analytics.hits(e, k = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("authority", 10L, 14L), ("authority", 11L, 10L), ("authority", 12L, 4L),
      ("hub", 1L, 5L), ("hub", 2L, 5L), ("hub", 3L, 4L)))
  }

  test("modularity scores a perfect 2-community split 0.5, one blob 0") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
      .toDF("src", "dst")
    val perfect = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("v", "label")
    val p = Analytics.modularity(e, perfect)
      .as[(Long, Long, Double)].collect().head
    // two triangles: L_c=3, d_c=6, m=6 → 2 × (3/6 − (6/12)²) = 0.5
    assert(p == ((6L, 2L, 0.5)))
    import org.apache.spark.sql.functions.{col, lit}
    val blob = perfect.select(col("v"), lit(1L).as("label"))
    val q0 = Analytics.modularity(e, blob)
      .as[(Long, Long, Double)].collect().head
    assert(q0 == ((6L, 1L, 0.0)))
  }

  test("graph operators: the driver and Spark regimes give identical rows") {
    import org.apache.spark.sql.DataFrame
    // budget 0 forces the Spark side (every graph has an edge); the
    // shared budget runs the driver side
    val budget = graft.rdf.TripleStats.smallRows
    val graphs = Seq(
      Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5")),                // chain
      Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4")),                // cycle
      Seq(("1", "1"), ("1", "2"), ("2", "3"), ("3", "1")),                // self-loop
      (1 to 6).map(v => ("0", v.toString)) :+ (("1", "2")),               // star
      Seq(("9", "10"), ("10", "11"), ("9", "11"), ("20", "21"), ("21", "22"),
        ("20", "22"), ("22", "23")),                                      // two components
      Seq(("1", "2"), ("1", "2"), ("2", "3"), ("3", "1"), ("2", "1")),    // duplicated edges
      Seq(("1", "2"), ("2", null), (null, "3"), ("3", "1"), ("2", "3"),
        (null, null)))                                                    // null endpoints
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def same(g: Any, driver: DataFrame, inSpark: DataFrame): Unit = {
      assert(driver.isLocal && !inSpark.isLocal, g)
      assert(rows(driver) == rows(inSpark), g)
      assert(driver.schema == inSpark.schema, g)
    }
    for (g <- graphs) {
      val e = g.toDF("src", "dst")
      // one iteration leaves remainders (1e9 div 3, div 6) in the final
      // ranks; three check the supersteps compose
      for (iters <- Seq(1, 3))
        same(g, Analytics.pageRank(spark, e, iters, 1000000000L, budget),
          Analytics.pageRank(spark, e, iters, 1000000000L, 0))
      same(g, Analytics.connectedComponents(spark, e, budget),
        Analytics.connectedComponents(spark, e, 0))
      for (k <- Seq(2, 3)) {
        val driver = Analytics.kCore(e, k, 10000, budget)
        val driverRounds = Analytics.lastKCoreRounds
        same(g, driver, Analytics.kCore(e, k, 10000, 0))
        assert(driverRounds == Analytics.lastKCoreRounds, g)
      }
      // the wedge family on numeric ids, as the benchmark runs it
      val ids = g.map { case (a, b) => (Option(a).map(_.toLong), Option(b).map(_.toLong)) }
        .toDF("src", "dst")
      for (wedgeBudget <- Seq(10000000L, 2L))
        same(g, Analytics.resourceAllocation(ids, 50, wedgeBudget, budget),
          Analytics.resourceAllocation(ids, 50, wedgeBudget, 0))
      graft.Checkpoints.releaseCaches()
    }
  }

  test("releaseCaches unpersists every RDD a graph query cached") {
    graft.Checkpoints.releaseCaches() // drop whatever earlier tests left
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // budget 0: both run their GraphX/Spark side, which caches
    Analytics.connectedComponents(spark, edges, 0).collect()
    Analytics.pageRank(spark, edges, 3, 1000000000L, 0).collect()
    // the one release also covers the dedup persists and the reasoner's
    // closure checkpoints
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "a completely different sentence about nothing much"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.minhashLsh(docs).collect()
    graft.inference.Closure.transitive(
      Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("sub", "sup")).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet.size > before.size)
    graft.Checkpoints.releaseCaches()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val detail = leaked.map(id =>
      s"$id:${spark.sparkContext.getPersistentRDDs(id)}")
    assert(leaked.isEmpty, s"leaked RDDs: $detail")
  }

  test("walk sample is deterministic and follows real edges") {
    import org.apache.spark.sql.functions.col
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val starts = Seq(1L, 3L).toDF("v")
    val w1 = Analytics.walkSample(edges, starts, steps = 3)
      .as[(Long, Int, Long)].collect().toSet
    // every start opens its walk; one row per (start, step)
    assert(w1.count(_._2 == 0) == 2)
    (0 to 3).foreach(k => assert(w1.count(_._2 == k) == 2))
    // each consecutive hop is a real (bidirectional) edge
    val bi = Set((1L, 2L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val byStart = w1.groupBy(_._1)
    byStart.values.foreach { rows =>
      rows.toSeq.sortBy(_._2).sliding(2).foreach {
        case Seq((_, _, a), (_, _, b)) => assert(bi.contains((a, b)))
        case _ =>
      }
    }
    // reruns reproduce the identical walks (the shard-replay property)
    val w2 = Analytics.walkSample(edges.orderBy(col("dst")), starts, steps = 3)
      .as[(Long, Int, Long)].collect().toSet
    assert(w1 == w2)
    graft.Checkpoints.releaseCaches()
  }
}
