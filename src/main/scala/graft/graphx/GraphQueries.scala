package graft.graphx

import graft.Tables
import graft.rdf.{PropertyGraph, TripleStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.FastHash.md5 // shadows functions.md5 → Md5Fast (r19)

/** SURVEY §D: graph analytics over the RDF edge set.
  *
  * Edge sets: the "geo" graph is customer/supplier→nation→region; the
  * triangle graph links parts co-occurring in an order.
  */
object GraphQueries {

  private def geoEdges(s: SparkSession, dir: String,
                       withSuppliers: Boolean = true): DataFrame = {
    val e = PropertyGraph.edges(TripleStore.dimensionTriples(s, dir))
      .filter(col("rel").isin(":hasNation", ":inRegion"))
    val base = if (withSuppliers) e else e.filter(!col("src").startsWith("supp:"))
    base.select(col("src"), col("dst"))
  }

  /** Canonical (src < dst) distinct co-order part edges on LONG keys —
    * numeric ids keep the iterative consumers' shuffles cheap; string
    * URIs are minted only at output time. PlanSpec builds the Spark
    * side of the wedge keys on it.
    */
  private[graft] def coOrderPartEdgeKeys(s: SparkSession, dir: String): DataFrame = {
    val pp = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    pp.as("a").join(pp.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .distinct()
  }

  private def coOrderPartEdges(s: SparkSession, dir: String): DataFrame =
    coOrderPartEdgeKeys(s, dir)
      .select(concat(lit("part:"), col("src")).as("src"),
        concat(lit("part:"), col("dst")).as("dst"))

  /** Round count observed by the LAST run of the graph_kcore query
    * itself (not any other kCore caller in the JVM) — read by the
    * generated oracle. Verify runs queries before dumping oracles.
    */
  @volatile private var kcoreObservedRounds: Int = 0

  /** DIRECTED part-succession edges: part a → part b when b fills the
    * next line of the same order, hash-sampled to 1/7 of the distinct
    * pairs. The full succession graph (avg out-degree ~15) collapses
    * into one giant SCC — true but useless as an SCC fixture; the 1/7
    * sample sits in the critical regime where a mid-size giant SCC,
    * small cycles AND directed tails that must NOT merge all coexist,
    * so a plain CC (or any direction-blind bug) produces a different
    * answer. The sampling digest is the BUCKET_CTES md5 idiom, exactly
    * replayable in the oracle.
    */
  private def successionEdgeKeys(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    l.as("a")
      .join(l.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("b.l_linenumber") === col("a.l_linenumber") + 1)
      .filter(col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .filter(conv(substring(md5(
        concat(col("src").cast("string"), lit("_"), col("dst").cast("string"))),
        1, 4), 16, 10).cast("int") % 7 === 0)
      .distinct()
  }

  /** DIRECTED bipartite purchase edges customer → part (distinct),
    * LONG keys — the HITS fixture: hubs live on the customer side,
    * authorities on the part side.
    */
  private def custPartEdgeKeys(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_degrees" -> { (s, dir) =>
      Analytics.degrees(s, geoEdges(s, dir))
    },
    "graph_connected_components" -> { (s, dir) =>
      Analytics.connectedComponents(s, geoEdges(s, dir, withSuppliers = false))
    },
    "graph_triangle_count" -> { (s, dir) =>
      Analytics.triangleTotal(s, coOrderPartEdges(s, dir))
    },
    "graph_triangle_vertex" -> { (s, dir) =>
      Analytics.trianglePerVertex(s, coOrderPartEdges(s, dir))
    },
    "graph_label_propagation" -> { (s, dir) =>
      Analytics.labelPropagation(coOrderPartEdgeKeys(s, dir), rounds = 4)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("size"))
        .select(concat(lit("part:"), col("label")).as("community"), col("size"))
    },
    "graph_pagerank" -> { (s, dir) =>
      // exact fixed-point ranks (longs) — deterministic top-30, so the
      // key is fully hash-verifiable against the unrolled SQL oracle
      Analytics.pageRank(s, geoEdges(s, dir), iters = 10)
        .orderBy(col("rank").desc, col("uri"))
        .limit(30)
        .select(col("uri"), col("rank"))
    },
    "graph_shortest_paths" -> { (s, dir) =>
      val sources = TripleStore.dimensionTriples(s, dir)
        .filter(col("s").startsWith("reg:")).select(col("s").as("uri")).distinct()
      Analytics.shortestHops(s, geoEdges(s, dir), sources)
    },
    "graph_scc" -> { (s, dir) =>
      Analytics.stronglyConnectedComponents(successionEdgeKeys(s, dir))
        .select(col("v").cast("long").as("v"), col("comp").cast("long").as("comp"))
    },
    // directionality card over the same sampled succession graph the
    // SCC reads — exact (n_edges, n_reciprocal) (r10)
    "graph_reciprocity" -> { (s, dir) =>
      Analytics.reciprocity(successionEdgeKeys(s, dir))
    },
    // priced wedge gate at the 1e7 default (r12 — was ungated; the
    // one `weak` family in VERDICT r11)
    "graph_common_neighbors" -> { (s, dir) =>
      Analytics.commonNeighbors(coOrderPartEdgeKeys(s, dir))
    },
    // the gate FORCED (budget 1e5): the middle-degree cap must fire
    // and the capped cn counts are themselves oracled — the
    // graph_resource_alloc_capped pattern for the CN family (r12)
    "graph_common_neighbors_capped" -> { (s, dir) =>
      Analytics.commonNeighbors(coOrderPartEdgeKeys(s, dir),
        wedgeBudget = 100000L)
    },
    // weighted link prediction: resource-allocation index (per-MIDDLE
    // 1/deg weights — not derivable from common_neighbors' endpoint
    // degrees), exact via floor(1e9/deg) integer contributions (r10)
    "graph_resource_alloc" -> { (s, dir) =>
      Analytics.resourceAllocation(coOrderPartEdgeKeys(s, dir))
    },
    // truncated Katz centrality, β=1/8 × 8³ scale → exact BIGINT
    // scores from the walks recurrence (r10)
    "graph_katz_centrality" -> { (s, dir) =>
      Analytics.katzCentrality(coOrderPartEdgeKeys(s, dir))
    },
    // per-vertex average-neighbor-degree profile (exact integer
    // numerator/denominator; assortativity at vertex grain) (r11)
    "graph_avg_neighbor_degree" -> { (s, dir) =>
      Analytics.avgNeighborDegree(coOrderPartEdgeKeys(s, dir))
    },
    // NORMALIZED neighbor-overlap link prediction: cn div union ranks
    // low-degree near-twins above hub pairs — a different top-k than
    // common_neighbors' raw count; integer-division witness (r11)
    "graph_jaccard_linkpred" -> { (s, dir) =>
      Analytics.jaccardLinkPred(coOrderPartEdgeKeys(s, dir))
    },
    // rich-club profile φ(κ): reverse cumulatives over the degree and
    // min-endpoint-degree histograms — no wedge join anywhere (r11)
    "graph_rich_club" -> { (s, dir) =>
      Analytics.richClub(coOrderPartEdgeKeys(s, dir))
    },
    // the wedge-volume gate FORCED (budget 1e5): the middle-degree
    // cap must fire and the capped answers are themselves oracled —
    // the dedup_ngram_jaccard_gated pattern on the graph side (r10)
    "graph_resource_alloc_capped" -> { (s, dir) =>
      Analytics.resourceAllocation(coOrderPartEdgeKeys(s, dir),
        wedgeBudget = 100000L)
    },
    // community-quality evaluation: modularity of the LPA partition
    // (same rounds as the graph_label_propagation key)
    "graph_modularity" -> { (s, dir) =>
      val e = coOrderPartEdgeKeys(s, dir)
      Analytics.modularity(e, Analytics.labelPropagation(e, rounds = 4))
    },
    // local clustering coefficient: lcc(v) = 2·triangles(v) /
    // (deg(v)·(deg(v)−1)) over the co-order part graph — the
    // per-vertex density statistic completing the triangle family
    // (count → per-vertex → normalized). The edge set checkpoints
    // ONCE (the triangle pass and the degree fold both read it);
    // triangles and deg are exact integers, so the lcc is one IEEE
    // divide rounded for formatting only (r9 b18).
    "graph_clustering_coeff" -> { (s, dir) =>
      val e = graft.Checkpoints.tracked(coOrderPartEdges(s, dir))
      val deg = e.select(col("src").as("uri"))
        .unionAll(e.select(col("dst").as("uri")))
        .groupBy(col("uri")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2)
      deg.join(Analytics.trianglePerVertex(s, e), Seq("uri"), "left_outer")
        .select(col("uri"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          col("deg"),
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("deg") * (col("deg") - lit(1L))), 9).as("lcc"))
    },
    // degree distribution as a log₂ histogram — the graph-shape card
    // (power law? truncated?) read before choosing partitioning and
    // skew strategy; the bit-length bucket idiom shared with the
    // quantile/session/norm histograms, so per-shard histograms
    // compose by addition. Two keyed partial-agg folds (r9 b29).
    "graph_degree_hist" -> { (s, dir) =>
      val e = coOrderPartEdgeKeys(s, dir)
      e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .groupBy(length(bin(col("d"))).cast("int").as("b"))
        .agg(count(lit(1)).as("n_vertices"),
          min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
    },
    // degree assortativity (Newman's r): do high-degree vertices
    // attach to high-degree vertices? One edge⋈degree join feeds a
    // single map-side fold to FOUR exact integer sums (m, Σ(j+k),
    // Σ(j²+k²), Σjk); r is a fixed-shape double expression over
    // those exact witnesses — r = (4m·S3 − S1²)/(2m·S2 − S1²), every
    // product promoted to double in the SAME left-assoc order on both
    // engines, rounded for formatting. Shuffle volume is the degree
    // fold only; the statistic itself is one row (r9 b20).
    "graph_assortativity" -> { (s, dir) =>
      val e = graft.Checkpoints.tracked(coOrderPartEdgeKeys(s, dir))
      val deg = e.select(col("src").as("v"))
        .unionAll(e.select(col("dst").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val w = e
        .join(deg.select(col("v").as("src"), col("d").as("dj")), "src")
        .join(deg.select(col("v").as("dst"), col("d").as("dk")), "dst")
      val sums = w.agg(count(lit(1)).as("m"),
        sum(col("dj") + col("dk")).as("s1"),
        sum(col("dj") * col("dj") + col("dk") * col("dk")).as("s2"),
        sum(col("dj") * col("dk")).as("s3"))
      val s1d = col("s1").cast("double")
      val den = lit(2.0) * col("m") * col("s2") - s1d * s1d
      sums.select(col("m"), col("s1"), col("s2"), col("s3"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(
            (lit(4.0) * col("m") * col("s3") - s1d * s1d) / den, 9))
          .as("r"))
    },
    "graph_kcore" -> { (s, dir) =>
      // kCore's checkpoint loop runs EAGERLY during construction, so
      // the observed round count can be captured here — keyed to THIS
      // query, immune to other kCore callers in the same JVM
      val res = Analytics.kCore(coOrderPartEdgeKeys(s, dir), k = 3)
      kcoreObservedRounds = Analytics.lastKCoreRounds
      res.select(concat(lit("part:"), col("uri")).as("uri"))
    },
    // HITS hubs & authorities over the DIRECTED customer→part
    // purchase bipartite graph — hubs are broad buyers, authorities
    // widely-bought parts weighted by their buyers' breadth
    "graph_hits" -> { (s, dir) =>
      Analytics.hits(custPartEdgeKeys(s, dir))
        .select(col("kind"),
          concat(when(col("kind") === "hub", "cust:").otherwise("part:"),
            col("vid")).as("id"),
          col("score"))
    },
    // deterministic hash-guided walk sampling over the co-order graph
    // (the node2vec/DeepWalk corpus-generation step, reproducible by
    // construction) — starts are the pk % 20 == 0 node slice (r9 b15)
    "graph_walk_sample" -> { (s, dir) =>
      val e = coOrderPartEdgeKeys(s, dir)
      val starts = e.select(explode(array(col("src"), col("dst"))).as("v"))
        .distinct().filter(col("v") % 20 === 0)
      Analytics.walkSample(e, starts)
    },
  )

  /** Unrolled-round label-propagation oracle: replays the synchronous
    * LPA rounds (most-frequent neighbor label, ties to the smaller)
    * over the co-order part graph, then sizes the communities.
    */
  /** The unrolled LPA CTE chain (shared by the community-size oracle
    * and the modularity oracle): base graph + `rounds` synchronous
    * steps; the final label table is `l<rounds>`.
    */
  /** Common-neighbors oracle with the wedge-volume gate replayed at
    * `budget` — the graph_resource_alloc pattern: total volume priced
    * over the degree histogram, conditional cap as the largest degree
    * whose low-degree-first cumulative volume fits, cn over capped
    * middles only, endpoint degrees exact (r12).
    */
  private def commonNeighborsSql(budget: Long): String =
    s"""WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
       |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS (SELECT p1 AS v, p2 AS w FROM e UNION ALL SELECT p2, p1 FROM e),
       |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
       |pd AS (SELECT deg AS degw, count(*) AS nv,
       |         count(*) * ((deg * (deg - 1)) // 2) AS vol
       |       FROM deg GROUP BY 1),
       |tot AS (SELECT CAST(sum(vol) AS BIGINT) AS t FROM pd),
       |cum AS (SELECT degw, sum(vol) OVER (ORDER BY degw
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS cumvol FROM pd),
       |cap AS (SELECT CASE WHEN t <= $budget THEN 9223372036854775807
       |          ELSE (SELECT max(degw) FROM cum WHERE cumvol <= $budget)
       |          END AS c FROM tot),
       |adjf AS (SELECT a.v, a.w FROM adj a JOIN deg d ON d.v = a.w
       |         CROSS JOIN cap WHERE d.deg <= cap.c),
       |wed AS (SELECT a.v AS u, b.v AS v, count(*) AS cn
       |        FROM adjf a JOIN adjf b ON a.w = b.w AND a.v < b.v GROUP BY 1, 2),
       |ne AS (SELECT u, v, cn FROM wed WHERE NOT EXISTS (
       |         SELECT 1 FROM e WHERE e.p1 = wed.u AND e.p2 = wed.v))
       |SELECT u, ne.v AS v, cn, du.deg AS deg_u, dv.deg AS deg_v
       |FROM ne JOIN deg du ON du.v = ne.u JOIN deg dv ON dv.v = ne.v
       |ORDER BY cn DESC, u, ne.v LIMIT 20""".stripMargin

  private def lpaCtes(rounds: Int): String = {
    val base =
      """pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |       FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT p1 AS src, p2 AS dst FROM e0
        |      UNION ALL SELECT p2, p1 FROM e0),
        |l0 AS (SELECT DISTINCT src AS v, src AS label FROM e)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""c$i AS (SELECT e.src, l.label, count(*) AS n
         |        FROM e JOIN l${i - 1} l ON l.v = e.dst GROUP BY 1, 2),
         |l$i AS (SELECT src AS v, label FROM (
         |          SELECT src, label, row_number() OVER (
         |            PARTITION BY src ORDER BY n DESC, label ASC) AS r
         |          FROM c$i) WHERE r = 1)""".stripMargin
    }
    s"$base,\n${steps.mkString(",\n")}"
  }

  private def lpaSql(rounds: Int): String =
    s"WITH ${lpaCtes(rounds)}\n" +
      s"SELECT 'part:'||label AS community, count(*) AS size " +
      s"FROM l$rounds GROUP BY 1"

  /** Modularity oracle: the LPA labels, folded to the community-pair
    * matrix, then the identical fixed-shape double term per community
    * as [[Analytics.modularity]].
    */
  private def modularitySql(rounds: Int): String =
    s"""WITH ${lpaCtes(rounds)},
       |gp AS (SELECT ls.label AS l_src, ld.label AS l_dst,
       |         count(*) AS cnt
       |       FROM e0 JOIN l$rounds ls ON ls.v = e0.p1
       |       JOIN l$rounds ld ON ld.v = e0.p2 GROUP BY 1, 2),
       |mm AS (SELECT CAST(sum(cnt) AS BIGINT) AS m FROM gp),
       |dc AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS dc FROM (
       |         SELECT l_src AS label, cnt FROM gp
       |         UNION ALL SELECT l_dst, cnt FROM gp) GROUP BY 1),
       |lcx AS (SELECT l_src AS label, cnt AS lc FROM gp
       |        WHERE l_src = l_dst),
       |nc AS (SELECT count(DISTINCT label) AS n_comm FROM l$rounds)
       |SELECT max(m) AS m, max(n_comm) AS n_comm,
       |  round(sum(CAST(coalesce(lc, 0) AS DOUBLE) / m
       |    - (CAST(dc AS DOUBLE) / (2 * m))
       |      * (CAST(dc AS DOUBLE) / (2 * m))), 9) AS q
       |FROM dc LEFT JOIN lcx USING (label), mm, nc""".stripMargin

  /** Unrolled-round pagerank oracle: replays [[Analytics.pageRank]]'s
    * exact integer recurrence iteration by iteration in plain SQL.
    * DuckDB's `//` and Spark's `div` are both truncating on the
    * non-negative longs involved, and the overflow-safe damping split
    * is written identically, so every intermediate rank is equal
    * bit-for-bit. DuckDB SUMs BIGINT into HUGEINT, hence the explicit
    * casts back.
    */
  private def pagerankSql(iters: Int, scale: Long, topK: Int): String = {
    val reset = scale * 15 / 100
    val base =
      s"""e AS (
         |  SELECT 'cust:'||c_custkey AS src, 'nat:'||c_nationkey AS dst FROM customer
         |  UNION ALL SELECT 'supp:'||s_suppkey, 'nat:'||s_nationkey FROM supplier
         |  UNION ALL SELECT 'nat:'||n_nationkey, 'reg:'||n_regionkey FROM nation),
         |v AS (SELECT src AS uri FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT uri, CAST($scale AS BIGINT) AS rank FROM v)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS uri, CAST(sum(r.rank // od.outdeg) AS BIGINT) AS msum
         |        FROM e JOIN r${i - 1} r ON r.uri = e.src
         |        JOIN od ON od.src = e.src GROUP BY 1),
         |r$i AS (SELECT v.uri, CAST($reset + (COALESCE(c.msum, 0) // 100) * 85
         |          + ((COALESCE(c.msum, 0) % 100) * 85) // 100 AS BIGINT) AS rank
         |        FROM v LEFT JOIN c$i c ON c.uri = v.uri)""".stripMargin
    }
    s"WITH $base,\n${steps.mkString(",\n")}\n" +
      s"SELECT uri, rank FROM r$iters ORDER BY rank DESC, uri LIMIT $topK"
  }

  /** Unrolled-round k-core oracle: replays exactly the synchronous
    * peels Analytics.kCore RAN (the converged computation records its
    * round count in [[Analytics.lastKCoreRounds]]; Verify runs queries
    * before dumping oracles, so the count is observed, not guessed).
    * Extra rounds past the fixpoint are no-ops, so the oracle is
    * correct for any unroll >= the observed count — but replaying the
    * observed count keeps the two computations step-for-step equal.
    */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val base =
      """pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |r0 AS (SELECT DISTINCT 'part:'||a.pk AS src, 'part:'||b.pk AS dst
        |       FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk != b.pk)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""d$i AS (SELECT src, count(*) AS deg FROM r${i - 1} GROUP BY 1),
         |k$i AS (SELECT src FROM d$i WHERE deg >= $k),
         |r$i AS (SELECT e.src, e.dst FROM r${i - 1} e
         |        JOIN k$i a ON a.src = e.src JOIN k$i b ON b.src = e.dst)""".stripMargin
    }
    s"WITH $base,\n${steps.mkString(",\n")}\n" +
      s"SELECT DISTINCT src AS uri FROM r$rounds"
  }

  /** A def, not a val: the kcore entry reads the round count the
    * just-run query observed (see [[kcoreSql]]).
    */
  def oracle: Map[String, String] = Map(
    "graph_degrees" ->
      """SELECT 'cust:'||c_custkey AS uri, 0 AS indeg, 1 AS outdeg FROM customer
        |UNION ALL
        |SELECT 'supp:'||s_suppkey, 0, 1 FROM supplier
        |UNION ALL
        |SELECT 'nat:'||n_nationkey,
        |       (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) +
        |       (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey),
        |       1
        |FROM nation
        |UNION ALL
        |SELECT 'reg:'||r_regionkey,
        |       (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey),
        |       0
        |FROM region""".stripMargin,
    "graph_connected_components" ->
      """WITH m AS (
        |  SELECT n_regionkey AS r, 'nat:'||n_nationkey AS uri FROM nation
        |  UNION ALL
        |  SELECT r_regionkey, 'reg:'||r_regionkey FROM region
        |  UNION ALL
        |  SELECT n_regionkey, 'cust:'||c_custkey
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |SELECT min(uri) AS comp, count(*) AS size FROM m GROUP BY r""".stripMargin,
    "graph_triangle_count" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk)
        |SELECT count(*) AS triangles
        |FROM e e1
        |JOIN e e2 ON e2.p1 = e1.p1 AND e2.p2 > e1.p2
        |JOIN e e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2""".stripMargin,
    "graph_triangle_vertex" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |      FROM e e1
        |      JOIN e e2 ON e2.p1 = e1.p1 AND e2.p2 > e1.p2
        |      JOIN e e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2)
        |SELECT 'part:'||v AS uri, count(*) AS triangles FROM (
        |  SELECT a AS v FROM t UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t)
        |GROUP BY 1""".stripMargin,
    "graph_label_propagation" -> lpaSql(rounds = 4),
    "graph_degree_hist" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v FROM e UNION ALL SELECT p2 FROM e),
        |deg AS (SELECT v, count(*) AS d FROM adj GROUP BY 1)
        |SELECT length(bin(d)) AS b, count(*) AS n_vertices,
        |  CAST(min(d) AS BIGINT) AS min_deg, CAST(max(d) AS BIGINT) AS max_deg
        |FROM deg GROUP BY 1""".stripMargin,
    "graph_assortativity" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v FROM e UNION ALL SELECT p2 FROM e),
        |deg AS (SELECT v, count(*) AS d FROM adj GROUP BY 1),
        |w AS (SELECT dj.d AS dj, dk.d AS dk FROM e
        |      JOIN deg dj ON dj.v = e.p1 JOIN deg dk ON dk.v = e.p2),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |        CAST(sum(dj + dk) AS BIGINT) AS s1,
        |        CAST(sum(dj * dj + dk * dk) AS BIGINT) AS s2,
        |        CAST(sum(dj * dk) AS BIGINT) AS s3
        |      FROM w)
        |SELECT m, s1, s2, s3,
        |  CASE WHEN 2.0 * m * s2 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) = 0
        |    THEN NULL
        |    ELSE round((4.0 * m * s3 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |      / (2.0 * m * s2 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 9)
        |  END AS r
        |FROM t""".stripMargin,
    "graph_clustering_coeff" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v, p2 AS w FROM e UNION ALL SELECT p2, p1 FROM e),
        |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
        |t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |      FROM e e1
        |      JOIN e e2 ON e2.p1 = e1.p1 AND e2.p2 > e1.p2
        |      JOIN e e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2),
        |tv AS (SELECT v, count(*) AS triangles FROM (
        |         SELECT a AS v FROM t UNION ALL SELECT b FROM t
        |         UNION ALL SELECT c FROM t) GROUP BY 1)
        |SELECT 'part:'||v AS uri,
        |  CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
        |  CAST(deg AS BIGINT) AS deg,
        |  round(2.0 * coalesce(triangles, 0) / (deg * (deg - 1)), 9) AS lcc
        |FROM deg LEFT JOIN tv USING (v)
        |WHERE deg >= 2""".stripMargin,
    "graph_modularity" -> modularitySql(rounds = 4),
    "graph_reciprocity" ->
      """WITH e AS (
        |  SELECT src, dst FROM (
        |    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b
        |      ON a.l_orderkey = b.l_orderkey
        |     AND b.l_linenumber = a.l_linenumber + 1
        |    WHERE a.l_partkey <> b.l_partkey)
        |  WHERE ('0x' || substr(md5(src::VARCHAR || '_' || dst::VARCHAR),
        |                        1, 4))::INT % 7 = 0),
        |r AS (SELECT count(*) AS n_reciprocal FROM e
        |      WHERE EXISTS (SELECT 1 FROM e e2
        |                    WHERE e2.src = e.dst AND e2.dst = e.src))
        |SELECT (SELECT count(*) FROM e) AS n_edges, n_reciprocal FROM r""".stripMargin,
    // closed-form SCC: comp(v) = min over the mutual-reachability set
    // — states WHAT an SCC is, with no replay of the peel rounds
    "graph_scc" ->
      """WITH RECURSIVE e AS (
        |  SELECT src, dst FROM (
        |    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM lineitem a JOIN lineitem b
        |      ON a.l_orderkey = b.l_orderkey
        |     AND b.l_linenumber = a.l_linenumber + 1
        |    WHERE a.l_partkey <> b.l_partkey)
        |  WHERE ('0x' || substr(md5(src::VARCHAR || '_' || dst::VARCHAR),
        |                        1, 4))::INT % 7 = 0),
        |reach(s, d) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.d),
        |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
        |mutual AS (SELECT r1.s AS v, r1.d AS u
        |           FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s)
        |SELECT CAST(v AS BIGINT) AS v,
        |       CAST(least(v, coalesce(min(u), v)) AS BIGINT) AS comp
        |FROM verts LEFT JOIN mutual USING (v) GROUP BY v""".stripMargin,
    // the 1e7 wedge-volume gate REPLAYED (r12): both engines price
    // Σ deg(w)·(deg(w)−1)/2 and cap the same middles if over budget;
    // endpoint degrees stay exact from the uncapped degree table
    "graph_common_neighbors" -> commonNeighborsSql(10000000L),
    "graph_common_neighbors_capped" -> commonNeighborsSql(100000L),
    // resource-allocation index: the common-neighbors wedge join with
    // per-middle floor(1e9/deg) weights — integer division both
    // engines compute identically. The oracle REPLAYS the default 1e7
    // wedge-volume gate (ADVICE r10): if verify ever runs at an SF
    // whose wedge volume crosses the budget, both engines cap the
    // same middles instead of the Spark side silently diverging.
    "graph_resource_alloc" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v, p2 AS w FROM e UNION ALL SELECT p2, p1 FROM e),
        |deg AS (SELECT v, count(*) AS degw FROM adj GROUP BY 1),
        |pd AS (SELECT degw, count(*) AS nv,
        |         count(*) * ((degw * (degw - 1)) // 2) AS vol
        |       FROM deg GROUP BY 1),
        |tot AS (SELECT CAST(sum(vol) AS BIGINT) AS t FROM pd),
        |cum AS (SELECT degw, sum(vol) OVER (ORDER BY degw
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cumvol FROM pd),
        |cap AS (SELECT CASE WHEN t <= 10000000 THEN 9223372036854775807
        |          ELSE (SELECT max(degw) FROM cum WHERE cumvol <= 10000000)
        |          END AS c FROM tot),
        |degf AS (SELECT v, degw FROM deg, cap WHERE degw <= c),
        |wed AS (SELECT a.v AS u, b.v AS v2,
        |          CAST(sum(1000000000 // d.degw) AS BIGINT) AS ra_e9,
        |          count(*) AS cn
        |        FROM adj a JOIN adj b ON a.w = b.w AND a.v < b.v
        |        JOIN degf d ON d.v = a.w GROUP BY 1, 2),
        |ne AS (SELECT u, v2, ra_e9, cn FROM wed WHERE NOT EXISTS (
        |         SELECT 1 FROM e WHERE e.p1 = wed.u AND e.p2 = wed.v2))
        |SELECT u, v2 AS v, ra_e9, cn FROM ne
        |ORDER BY ra_e9 DESC, u, v2 LIMIT 20""".stripMargin,
    "graph_avg_neighbor_degree" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v, p2 AS w FROM e UNION ALL SELECT p2, p1 FROM e),
        |deg AS (SELECT v, count(*) AS degw FROM adj GROUP BY 1)
        |SELECT a.v AS v, count(*) AS deg,
        |  CAST(sum(d.degw) AS BIGINT) AS sum_nbr_deg
        |FROM adj a JOIN deg d ON d.v = a.w GROUP BY 1""".stripMargin,
    // jaccard = cn / (deg_u + deg_v − cn); the ranking witness is the
    // exact integer division cn·1e6 div union on both engines. The
    // 1e7 wedge gate is replayed: cn comes from capped middles,
    // the union denominator from exact degrees (r12)
    "graph_jaccard_linkpred" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v, p2 AS w FROM e UNION ALL SELECT p2, p1 FROM e),
        |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
        |pd AS (SELECT deg AS degw, count(*) AS nv,
        |         count(*) * ((deg * (deg - 1)) // 2) AS vol
        |       FROM deg GROUP BY 1),
        |tot AS (SELECT CAST(sum(vol) AS BIGINT) AS t FROM pd),
        |cum AS (SELECT degw, sum(vol) OVER (ORDER BY degw
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cumvol FROM pd),
        |cap AS (SELECT CASE WHEN t <= 10000000 THEN 9223372036854775807
        |          ELSE (SELECT max(degw) FROM cum WHERE cumvol <= 10000000)
        |          END AS c FROM tot),
        |adjf AS (SELECT a.v, a.w FROM adj a JOIN deg d ON d.v = a.w
        |         CROSS JOIN cap WHERE d.deg <= cap.c),
        |wed AS (SELECT a.v AS u, b.v AS v, count(*) AS cn
        |        FROM adjf a JOIN adjf b ON a.w = b.w AND a.v < b.v GROUP BY 1, 2),
        |ne AS (SELECT u, v, cn FROM wed WHERE NOT EXISTS (
        |         SELECT 1 FROM e WHERE e.p1 = wed.u AND e.p2 = wed.v))
        |SELECT u, ne.v AS v, cn,
        |  du.deg + dv.deg - cn AS union_n,
        |  (cn * 1000000) // (du.deg + dv.deg - cn) AS jac_e6
        |FROM ne JOIN deg du ON du.v = ne.u JOIN deg dv ON dv.v = ne.v
        |ORDER BY jac_e6 DESC, u, ne.v LIMIT 20""".stripMargin,
    // rich club: n_k / e_k are reverse cumulatives of the degree and
    // min-endpoint-degree histograms over the distinct-degree ladder
    "graph_rich_club" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v, p2 AS w FROM e UNION ALL SELECT p2, p1 FROM e),
        |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
        |dh AS (SELECT deg AS k, count(*) AS nv FROM deg GROUP BY 1),
        |md AS (SELECT least(du.deg, dv.deg) AS k, count(*) AS ne
        |       FROM e JOIN deg du ON du.v = e.p1 JOIN deg dv ON dv.v = e.p2
        |       GROUP BY 1),
        |ladder AS (SELECT coalesce(dh.k, md.k) AS k,
        |             coalesce(nv, 0) AS nv, coalesce(ne, 0) AS ne
        |           FROM dh FULL OUTER JOIN md ON dh.k = md.k),
        |cum AS (SELECT k,
        |          sum(nv) OVER (ORDER BY k
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_k,
        |          sum(ne) OVER (ORDER BY k
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS e_k
        |        FROM ladder)
        |SELECT k, CAST(n_k AS BIGINT) AS n_k,
        |  CAST(coalesce(e_k, 0) AS BIGINT) AS e_k,
        |  CAST((2 * CAST(coalesce(e_k, 0) AS BIGINT) * 1000000)
        |    // (CAST(n_k AS BIGINT) * (CAST(n_k AS BIGINT) - 1))
        |    AS BIGINT) AS phi_e6
        |FROM cum WHERE n_k >= 2""".stripMargin,
    // the gate replayed in SQL: total volume priced, conditional cap
    // as the largest degree whose low-degree-first cumulative volume
    // fits the forced 1e5 budget, RA over capped middles only
    "graph_resource_alloc_capped" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v, p2 AS w FROM e UNION ALL SELECT p2, p1 FROM e),
        |deg AS (SELECT v, count(*) AS degw FROM adj GROUP BY 1),
        |pd AS (SELECT degw, count(*) AS nv,
        |         count(*) * ((degw * (degw - 1)) // 2) AS vol
        |       FROM deg GROUP BY 1),
        |tot AS (SELECT CAST(sum(vol) AS BIGINT) AS t FROM pd),
        |cum AS (SELECT degw, sum(vol) OVER (ORDER BY degw
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cumvol FROM pd),
        |cap AS (SELECT CASE WHEN t <= 100000 THEN 9223372036854775807
        |          ELSE (SELECT max(degw) FROM cum WHERE cumvol <= 100000)
        |          END AS c FROM tot),
        |degf AS (SELECT v, degw FROM deg, cap WHERE degw <= c),
        |wed AS (SELECT a.v AS u, b.v AS v2,
        |          CAST(sum(1000000000 // d.degw) AS BIGINT) AS ra_e9,
        |          count(*) AS cn
        |        FROM adj a JOIN adj b ON a.w = b.w AND a.v < b.v
        |        JOIN degf d ON d.v = a.w GROUP BY 1, 2),
        |ne AS (SELECT u, v2, ra_e9, cn FROM wed WHERE NOT EXISTS (
        |         SELECT 1 FROM e WHERE e.p1 = wed.u AND e.p2 = wed.v2))
        |SELECT u, v2 AS v, ra_e9, cn FROM ne
        |ORDER BY ra_e9 DESC, u, v2 LIMIT 20""".stripMargin,
    // truncated Katz: walks_k = A·walks_{k-1}, three terms scaled 8^3
    "graph_katz_centrality" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
        |      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT p1 AS v, p2 AS w FROM e UNION ALL SELECT p2, p1 FROM e),
        |w1 AS (SELECT v, count(*) AS w1 FROM adj GROUP BY 1),
        |w2 AS (SELECT adj.v, CAST(sum(w1.w1) AS BIGINT) AS w2
        |       FROM adj JOIN w1 ON w1.v = adj.w GROUP BY 1),
        |w3 AS (SELECT adj.v, CAST(sum(w2.w2) AS BIGINT) AS w3
        |       FROM adj JOIN w2 ON w2.v = adj.w GROUP BY 1)
        |SELECT w1.v, CAST(w1.w1 * 64 + w2.w2 * 8 + w3.w3 AS BIGINT) AS katz_e
        |FROM w1 JOIN w2 ON w2.v = w1.v JOIN w3 ON w3.v = w1.v
        |ORDER BY katz_e DESC, w1.v LIMIT 30""".stripMargin,
    "graph_pagerank" -> pagerankSql(iters = 10, scale = 1000000000L, topK = 30),
    // two unrolled integer HITS half-round pairs; sums CAST back to
    // BIGINT — DuckDB widens sum(BIGINT) to HUGEINT, which the driver's
    // Arrow canonicalization stringifies differently from Spark's long
    "graph_hits" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |a1 AS (SELECT dst, count(*) AS a1 FROM e GROUP BY dst),
        |h1 AS (SELECT src, CAST(sum(a1) AS BIGINT) AS h1
        |  FROM e JOIN a1 USING (dst) GROUP BY src),
        |a2 AS (SELECT dst, CAST(sum(h1) AS BIGINT) AS a2
        |  FROM e JOIN h1 USING (src) GROUP BY dst),
        |ta AS (SELECT 'authority' AS kind, 'part:' || dst AS id, a2 AS score
        |  FROM a2 ORDER BY a2 DESC, dst LIMIT 20),
        |th AS (SELECT 'hub' AS kind, 'cust:' || src AS id, h1 AS score
        |  FROM h1 ORDER BY h1 DESC, src LIMIT 20)
        |SELECT * FROM ta UNION ALL SELECT * FROM th""".stripMargin,
    "graph_shortest_paths" ->
      """SELECT 'reg:'||r_regionkey AS uri, 0 AS dist FROM region
        |UNION ALL SELECT 'nat:'||n_nationkey, 1 FROM nation
        |UNION ALL SELECT 'cust:'||c_custkey, 2 FROM customer
        |UNION ALL SELECT 'supp:'||s_suppkey, 2 FROM supplier""".stripMargin,
    // the walk replayed step by step: min_by over the same md5 choice
    "graph_walk_sample" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk),
        |bi AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |w0 AS (SELECT DISTINCT src AS start, src AS cur FROM bi
        |  WHERE src % 20 = 0),
        |w1 AS (SELECT start,
        |    min_by(dst, md5(concat_ws('|', start, 1, cur, dst))) AS cur
        |  FROM w0 JOIN bi ON cur = src GROUP BY start),
        |w2 AS (SELECT start,
        |    min_by(dst, md5(concat_ws('|', start, 2, cur, dst))) AS cur
        |  FROM w1 JOIN bi ON cur = src GROUP BY start),
        |w3 AS (SELECT start,
        |    min_by(dst, md5(concat_ws('|', start, 3, cur, dst))) AS cur
        |  FROM w2 JOIN bi ON cur = src GROUP BY start)
        |SELECT start, 0 AS step, cur AS node FROM w0
        |UNION ALL SELECT start, 1, cur FROM w1
        |UNION ALL SELECT start, 2, cur FROM w2
        |UNION ALL SELECT start, 3, cur FROM w3""".stripMargin,
  ) ++ (
    // emitted only after the graph_kcore query itself has run: an
    // unobserved round count would unroll a wrong 1-round superset
    // oracle; omitting the entry downgrades the driver's check to
    // rows-only instead of silently comparing against bad SQL
    if (kcoreObservedRounds > 0)
      Map("graph_kcore" -> kcoreSql(k = 3, rounds = kcoreObservedRounds))
    else Map.empty[String, String])
}
