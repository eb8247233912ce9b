package graft.graphx

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.graphx.lib.ShortestPaths
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import graft.{Checkpoints, Regime}
import graft.functions.FastHash.md5 // shadows functions.md5 → Md5Fast (r19)

/** GraphX analytics over the RDF edge set — the north star's "GraphX
  * for RDF analytics queries". URIs get stable 64-bit vertex ids via
  * xxhash64 (collision chance ~n^2/2^64 — negligible below trillions
  * of nodes); every result joins back to URIs so downstream stays in
  * DataFrame land.
  *
  * The physical plan follows the size of the edge set (Pregelix,
  * VLDB 2014). Connected components, PageRank, k-core and resource
  * allocation first pass their (src, dst) relation through
  * [[graft.Regime]]: an edge set within its budget (every benchmark
  * graph at sf0.001, the geo graphs through sf0.1) runs on the driver
  * in [[LocalGraph]] and returns a local relation with the same rows
  * and field types, and a larger one runs the Spark side below over the
  * relation the gate persisted.
  */
object Analytics {

  /** Forwards to [[graft.Checkpoints.releaseCaches]]. Its only caller
    * is the benchmark program (perfbench/src/main/scala/perfbench/Main.scala:168-169);
    * graft code calls the owner directly.
    */
  def releaseCaches(): Unit = Checkpoints.releaseCaches()

  /** (vertices(id,uri), edges RDD) from a (src,dst) DataFrame.
    *
    * Pregel iterations pay a fixed per-partition cost per superstep,
    * so partition count tracks graph size (1 partition per ~500k
    * edges) instead of inheriting the SQL shuffle setting — on a
    * 1000-executor run the edge count drives this into the thousands,
    * on a laptop-sized graph it stays small.
    */
  private def build(spark: SparkSession, edges: DataFrame,
                    undirected: Boolean = false): (DataFrame, Graph[String, Int]) = {
    val verts = edges.select(col("src").as("uri"))
      .unionAll(edges.select(col("dst").as("uri")))
      .distinct()
      .select(xxhash64(col("uri")).as("id"), col("uri"))
    val dir = edges.select(xxhash64(col("src")).as("sid"), xxhash64(col("dst")).as("did"))
    val e = if (undirected) dir.unionAll(dir.select(col("did").as("sid"), col("sid").as("did"))) else dir
    // persist before the sizing count — the count and the graph build
    // would otherwise each run the full edge derivation; repartition
    // (not coalesce) when growing, since coalesce can only shrink
    val edgeRdd0 = Checkpoints.persisted(
      e.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1)))
    val nParts = math.max(4, math.min(
      spark.sparkContext.defaultParallelism,
      (edgeRdd0.count() / 500000L).toInt + 1))
    def resize[T: scala.reflect.ClassTag](r: org.apache.spark.rdd.RDD[T]) =
      if (nParts < r.getNumPartitions) r.coalesce(nParts)
      else if (nParts > r.getNumPartitions) r.repartition(nParts)
      else r
    val vertRdd = resize(verts.rdd.map(r => (r.getLong(0), r.getString(1))))
    val edgeRdd = resize(edgeRdd0)
    (verts, Checkpoints.track(Graph(vertRdd, edgeRdd))(_.unpersist(_)))
  }

  /** Per-URI in/out degree (missing side = 0). */
  def degrees(spark: SparkSession, edges: DataFrame): DataFrame = {
    val (verts, g) = build(spark, edges)
    val in = spark.createDataFrame(g.inDegrees).toDF("id", "indeg")
    val out = spark.createDataFrame(g.outDegrees).toDF("id", "outdeg")
    verts.join(in, Seq("id"), "left_outer").join(out, Seq("id"), "left_outer")
      .select(col("uri"),
        coalesce(col("indeg"), lit(0)).as("indeg"),
        coalesce(col("outdeg"), lit(0)).as("outdeg"))
  }

  /** `edges`' endpoints as one field named `name`: the vertex field
    * the results below carry. Analysis only, no job.
    */
  private def endpointField(edges: DataFrame, name: String): StructField =
    edges.select(col("src").as(name))
      .unionAll(edges.select(col("dst").as(name))).schema.head

  /** The regime gate ([[graft.Regime]]) over `edges`' (src, dst) rows:
    * `local` answers from a [[LocalGraph]] of them when they fit,
    * `inSpark` from the persisted relation when they do not.
    */
  private def gated(edges: DataFrame, budget: Long)(local: LocalGraph => DataFrame)
                   (inSpark: DataFrame => DataFrame): DataFrame =
    Regime.fetchIfSmall(edges.select(col("src"), col("dst")), budget) match {
      case Right(rows) => local(new LocalGraph(rows, endpointField(edges, "v").dataType))
      case Left(kept) => inSpark(kept)
    }

  /** Connected components; component named by its min URI (stable
    * across runs, unlike GraphX's min-vertex-id label). Union-find on
    * the driver when the edges fit the regime gate, GraphX otherwise.
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame =
    connectedComponents(spark, edges, Regime.budget)

  private[graft] def connectedComponents(spark: SparkSession, edges: DataFrame,
                                         budget: Long): DataFrame =
    gated(edges, budget) { g =>
      Regime.localRelation(edges, StructType(Seq(
        endpointField(edges, "comp").copy(nullable = true),
        StructField("size", LongType, nullable = false))), g.connectedComponents)
    } { kept =>
      val (verts, g) = build(spark, kept)
      val cc = spark.createDataFrame(
        Checkpoints.track(g.connectedComponents())(_.unpersist(_))
          .vertices).toDF("id", "comp_id")
      verts.join(cc, Seq("id"))
        .groupBy(col("comp_id"))
        .agg(min(col("uri")).as("comp"), count(lit(1)).as("size"))
        .select(col("comp"), col("size"))
    }

  /** Connected components over NUMERIC-id edges (src, dst): returns
    * (id, comp) where comp is the component's minimum vertex id
    * (GraphX's labeling — deterministic). Used by dedup cluster
    * resolution, where doc ids are already longs and the min id is
    * the canonical representative.
    */
  def componentsById(spark: SparkSession, edges: DataFrame): DataFrame = {
    val edgeRdd0 = Checkpoints.persisted(edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1)))
    // size partitions to the graph like [[build]] does (1 per ~500k
    // edges, floor 4): the input frame often inherits a WIDE upstream
    // layout (a filtered slice of the spread cached store arrives with
    // cores×legs partitions), and Pregel pays a fixed per-partition
    // cost per superstep — unsized, the sameAs CC measured 12× slower
    // purely from tiny-task scheduling (r19). The sameAs caller only
    // comes here over the regime gate's budget; a smaller link set
    // clusters on the driver ([[LocalGraph.canonicalMap]])
    val nParts = math.max(4, math.min(
      spark.sparkContext.defaultParallelism,
      (edgeRdd0.count() / 500000L).toInt + 1))
    val edgeRdd =
      if (nParts < edgeRdd0.getNumPartitions) edgeRdd0.coalesce(nParts)
      else edgeRdd0
    val g = Checkpoints.track(Graph.fromEdges(edgeRdd, 0))(_.unpersist(_))
    val cc = Checkpoints.track(g.connectedComponents())(_.unpersist(_))
    spark.createDataFrame(cc.vertices).toDF("id", "comp")
  }

  /** Peel rounds the most recent [[kCore]] call actually ran
    * (including the final no-op round that proved the fixpoint).
    * Read by the oracle generator so the unrolled SQL replays exactly
    * as many rounds as the converged computation took.
    */
  @volatile var lastKCoreRounds: Int = 0

  /** K-core peeling over the undirected edge set: synchronous rounds
    * of "drop every node with degree < k (and its edges)" until the
    * edge count stops shrinking — peeling only removes edges, so an
    * unchanged count IS the fixpoint, and the loop needs no bound
    * tuned to the graph's depth (a fixed round count silently returns
    * a superset on a deeper graph). `maxRounds` is a safety valve and
    * a way for tests to observe the bounded intermediate states; the
    * rounds actually run land in [[lastKCoreRounds]]. A DataFrame
    * loop, not Pregel: each round is one partial-aggregated degree
    * count + two semi-joins, localCheckpoint()ed so the plan stays
    * round-sized — the iterative-DataFrame idiom that scales with AQE
    * picking the join strategy per round as the graph shrinks. The
    * convergence count() per round is free: it reads the
    * just-materialized checkpoint. Edges that fit the regime gate peel
    * on the driver instead ([[LocalGraph.kCore]]), counting rounds the
    * same way.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 10000): DataFrame =
    kCore(edges, k, maxRounds, Regime.budget)

  private[graft] def kCore(edges: DataFrame, k: Int, maxRounds: Int,
                           budget: Long): DataFrame =
    gated(edges, budget) { g =>
      val (core, rounds) = g.kCore(k, maxRounds)
      lastKCoreRounds = rounds
      Regime.localRelation(edges, StructType(Seq(endpointField(edges, "uri"))), core)
    }(sparkKCore(_, k, maxRounds))

  private def sparkKCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    // precondition: `edges` is DISTINCT and canonical (one row per
    // undirected edge, src < dst) — then the doubled relation is
    // distinct by construction and no dedup shuffle is needed. Peel
    // on the caller's key type: numeric ids shuffle/join far cheaper
    // than URI strings, so callers should map to strings AFTER.
    // hash-partition the doubled relation by src ONCE (r19): the
    // per-round degree fold is keyed src, so it then aggregates
    // WITHOUT an exchange; the semi-joins' keep side is vertex-scale
    // (AQE broadcasts it), so the surviving-edge projection keeps the
    // src partitioning and the checkpoint PRESERVES it into the next
    // round — the peel loop's edge relation never re-shuffles.
    // Explicit count (REPARTITION_BY_NUM) so AQE can't coalesce the
    // partitioning out of alignment with later rounds.
    var (cur, curRdd) = Checkpoints.trackedWithHandle(edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("src")))
    var prev = cur.count()
    var rounds = 0
    var converged = prev == 0L
    while (!converged && rounds < maxRounds) {
      val keep = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      val (next, nextRdd) = Checkpoints.trackedWithHandle(cur
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      val n = next.count()
      rounds += 1
      converged = n == prev
      prev = n
      curRdd.unpersist(blocking = false)
      cur = next; curRdd = nextRdd
    }
    lastKCoreRounds = rounds
    cur.select(col("src").as("uri")).distinct()
  }

  /** Strongly connected components over NUMERIC-id directed edges
    * (src, dst), labeled by each SCC's MINIMUM vertex id — the same
    * closed-form definition an oracle can state directly
    * (comp(v) = min{u : u ⇄ v} ∪ {v}), with no dependence on how
    * many rounds the computation took. Every vertex of the input
    * appears in the output: self-loops are dropped as EDGES (they
    * never change SCC membership) but their endpoints stay in the
    * vertex set and emit their singleton components.
    *
    * Algorithm: deterministic forward-max coloring (Orzan's SCC
    * coloring, the standard distributed SCC decomposition):
    * each peel round (1) floods the MAX vertex id forward to a
    * fixpoint — color(v) = max id that reaches v; every nonempty
    * color class c contains its root c (anything bigger reaching c
    * would have recolored the whole class); (2) walks REVERSE edges
    * from each root within its own color class — a member reaches
    * its root, and its root reaches it (that is what the color
    * says), so the reached set is exactly the root's SCC; (3)
    * removes those SCCs and repeats on the remainder. A DAG drains
    * in one round (every vertex whose color it can reach back is a
    * singleton root); rounds track the depth of the SCC condensation
    * below local maxima, not the vertex count.
    *
    * Scale shape: every step is an equi-join + partial-aggregated
    * max/min keyed by vertex — the GraphX-CC data flow in DataFrame
    * form, AQE re-picking join strategies as the graph shrinks; each
    * generation is localCheckpoint()ed so plans stay round-sized.
    * Convergence tests are free scans of the just-materialized
    * checkpoint: the forward flood is monotone (colors only grow),
    * so an unchanged sum IS the fixpoint — summed as decimal(38,0)
    * so full-range 64-bit ids (e.g. xxhash64 keys) cannot wrap a
    * Long and cancel a real change. The reverse walk advances a
    * FRONTIER (only rows added last iteration expand — an already-
    * reached row can only rediscover members), so its total join
    * volume is one pass over the intra-class edges, not
    * depth × reached. Sync flood rounds are bounded by the SCC
    * diameter — the known cost of distributed SCC; path-doubling
    * trades shuffle volume for rounds if a high-diameter graph ever
    * needs it.
    */
  def stronglyConnectedComponents(edges: DataFrame): DataFrame = {
    val typed = edges.select(col("src").cast("long"), col("dst").cast("long"))
    var (rem, remRdd) = Checkpoints.trackedWithHandle(typed
      .filter(col("src") =!= col("dst")).distinct())
    // vertex set from the UNFILTERED edges: a vertex whose only edges
    // are self-loops still owns a singleton SCC
    var (verts, vertsRdd) = Checkpoints.trackedWithHandle(typed.select(col("src").as("v"))
      .unionAll(typed.select(col("dst").as("v"))).distinct())
    var nVerts = verts.count()
    val pieces = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def colorSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("color").cast("decimal(38,0)"))).head
        .getDecimal(0)
    while (nVerts > 0) {
      // (1) forward max flood: color(v) = max id reaching v
      var (c, cRdd) = Checkpoints.trackedWithHandle(
        verts.select(col("v"), col("v").as("color")))
      var csum = colorSum(c)
      var flooded = false
      while (!flooded) {
        val msgs = rem
          .join(c.select(col("v").as("src"), col("color")), Seq("src"))
          .groupBy(col("dst")).agg(max(col("color")).as("mc"))
        val (next, nextRdd) = Checkpoints.trackedWithHandle(c
          .join(msgs.select(col("dst").as("v"), col("mc")), Seq("v"), "left_outer")
          .select(col("v"), greatest(col("color"), coalesce(col("mc"), col("color")))
            .as("color")))
        val s2 = colorSum(next)
        cRdd.unpersist(blocking = false)
        c = next; cRdd = nextRdd
        flooded = s2.compareTo(csum) == 0; csum = s2
      }
      // (2) reverse frontier walk from roots within each color class
      var (reached, reachedRdd) = Checkpoints.trackedWithHandle(
        c.filter(col("v") === col("color")))
      var frontier = reached
      var frontierRdd = reachedRdd
      var walked = false
      while (!walked) {
        val (step, stepRdd) = Checkpoints.trackedWithHandle(rem
          .join(frontier.select(col("v").as("dst"), col("color")), Seq("dst"))
          .select(col("src").as("v"), col("color"))
          .join(c.withColumnRenamed("color", "vc"), Seq("v"))
          .filter(col("color") === col("vc"))
          .select(col("v"), col("color"))
          .distinct()
          .join(reached, Seq("v"), "left_anti"))
        if (frontierRdd ne reachedRdd) frontierRdd.unpersist(blocking = false)
        walked = step.isEmpty
        if (walked) {
          stepRdd.unpersist(blocking = false)
          frontier = reached; frontierRdd = reachedRdd
        } else {
          val (next, nextRdd) = Checkpoints.trackedWithHandle(reached.unionAll(step))
          reachedRdd.unpersist(blocking = false)
          reached = next; reachedRdd = nextRdd
          frontier = step; frontierRdd = stepRdd
        }
      }
      // (3) label removed SCCs by min member and peel them off
      val (piece, _) = Checkpoints.trackedWithHandle(reached
        .join(reached.groupBy(col("color")).agg(min(col("v")).as("comp")),
          Seq("color"))
        .select(col("v"), col("comp")))
      pieces += piece
      val (nextVerts, nvRdd) = Checkpoints.trackedWithHandle(
        verts.join(reached, Seq("v"), "left_anti"))
      val (nextRem, nrRdd) = Checkpoints.trackedWithHandle(rem
        .join(reached.select(col("v").as("src")), Seq("src"), "left_anti")
        .join(reached.select(col("v").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst")))
      cRdd.unpersist(blocking = false)
      reachedRdd.unpersist(blocking = false)
      vertsRdd.unpersist(blocking = false)
      remRdd.unpersist(blocking = false)
      verts = nextVerts; vertsRdd = nvRdd
      rem = nextRem; remRdd = nrRdd
      nVerts = verts.count()
    }
    vertsRdd.unpersist(blocking = false)
    remRdd.unpersist(blocking = false)
    pieces.reduceOption(_ unionAll _)
      .getOrElse(edges.sparkSession.emptyDataFrame
        .select(lit(0L).as("v"), lit(0L).as("comp")).limit(0))
  }

  /** Total triangle count (canonical edges required by GraphX). */
  def triangleTotal(spark: SparkSession, edges: DataFrame): DataFrame = {
    val canon = edges
      .select(xxhash64(col("src")).as("sid"), xxhash64(col("dst")).as("did"))
      .select(least(col("sid"), col("did")).as("sid"),
        greatest(col("sid"), col("did")).as("did"))
      .filter(col("sid") =!= col("did"))
      .distinct()
    val canonRdd = Checkpoints.persisted(
      canon.rdd.map(r => (r.getLong(0), r.getLong(1))))
    val nParts = math.max(4, math.min(
      spark.sparkContext.defaultParallelism,
      (canonRdd.count() / 500000L).toInt + 1))
    val sized =
      if (nParts < canonRdd.getNumPartitions) canonRdd.coalesce(nParts)
      else canonRdd
    val g = Checkpoints.track(Graph.fromEdgeTuples(sized, 1)
      .partitionBy(PartitionStrategy.RandomVertexCut))(_.unpersist(_))
    val perVertex = Checkpoints.track(g.triangleCount())(_.unpersist(_))
      .vertices.map(_._2.toLong)
    spark.createDataFrame(perVertex.map(Tuple1.apply)).toDF("t")
      // empty graph => sum is NULL; the count of triangles is 0
      .agg(coalesce((sum(col("t")) / 3).cast("long"), lit(0L)).as("triangles"))
  }

  /** Synchronous label propagation over NUMERIC-id edges, fixed round
    * count: labels start as the vertex id; each round every vertex
    * adopts the most frequent label among its neighbors, ties to the
    * SMALLER label. Unlike GraphX's LPA (async, nondeterministic
    * hash-order ties) this is deterministic on any cluster and any
    * partitioning, so the oracle can replay the rounds in SQL.
    * Fixed rounds are the semantics here (LPA has no monotone
    * fixpoint — labels can oscillate — so "run to convergence" is not
    * well-defined the way k-core's peel is). Each round is one join +
    * two partial-agg shuffles keyed by vertex; the max-struct pick
    * avoids a window. Returns (v, label).
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    // hash-partition the (invariant) adjacency by the per-round join
    // key BEFORE checkpointing: LogicalRDD preserves the partitioning,
    // so every round's und⋈lab join moves only the vertex-scale label
    // table — the edge relation never re-shuffles (r19, guide §2.4
    // "two operations keyed the same way share one exchange"; the
    // GraphX posture — edges stay put, labels move — in DataFrame form)
    val und = Checkpoints.tracked(edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      // explicit count (REPARTITION_BY_NUM): AQE never coalesces it,
      // so the checkpointed partitioning provably matches the
      // per-round join's requirement
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("dst")))
    var (lab, labRdd) = Checkpoints.trackedWithHandle(
      und.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("label")))
    for (_ <- 1 to rounds) {
      val counts = und
        .join(lab.select(col("v").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("n"))
      val next = counts.groupBy(col("src"))
        .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("best"))
        .select(col("src").as("v"), (-col("best.neg")).as("label"))
      val (n2, r2) = Checkpoints.trackedWithHandle(next)
      labRdd.unpersist(blocking = false)
      lab = n2; labRdd = r2
    }
    lab
  }

  /** Newman modularity of a vertex partition over a canonical
    * (src < dst, distinct) undirected edge set — the quality score
    * that tells you whether a community detection run found real
    * structure (Q near 0 = no better than random for the degree
    * sequence). Q = Σ_c [ L_c/m − (d_c/2m)² ] with L_c intra-edges,
    * d_c degree mass, m total edges.
    *
    * Scale shape: ONE shuffle folds the edge-label join to the
    * (l_src, l_dst) community-pair matrix (≤ C² rows, checkpointed —
    * it feeds the m/d_c/L_c branches), and every quantity derives
    * from that matrix; the per-community terms are fixed-shape double
    * expressions over exact integers, summed over C communities and
    * rounded to 9dp so community-count-scale float reassociation
    * cannot move the hash.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val g = Checkpoints.tracked(edges
      .join(labels.select(col("v").as("src"), col("label").as("l_src")),
        "src")
      .join(labels.select(col("v").as("dst"), col("label").as("l_dst")),
        "dst")
      .groupBy(col("l_src"), col("l_dst")).agg(count(lit(1)).as("cnt")))
    val mDf = g.agg(sum(col("cnt")).as("m"))
    val dc = g.select(col("l_src").as("label"), col("cnt"))
      .unionAll(g.select(col("l_dst").as("label"), col("cnt")))
      .groupBy(col("label")).agg(sum(col("cnt")).as("dc"))
    val lc = g.filter(col("l_src") === col("l_dst"))
      .select(col("l_src").as("label"), col("cnt").as("lc"))
    val nc = labels.agg(count_distinct(col("label")).as("n_comm"))
    val half = col("dc").cast("double") / (lit(2) * col("m"))
    val term = coalesce(col("lc"), lit(0L)).cast("double") / col("m") -
      half * half
    dc.join(lc, Seq("label"), "left_outer")
      .crossJoin(mDf).crossJoin(nc)
      .agg(max(col("m")).as("m"), max(col("n_comm")).as("n_comm"),
        round(sum(term), 9).as("q"))
  }

  /** Per-URI triangle participation counts (canonical edges, like
    * [[triangleTotal]]); vertices on no triangle are omitted so the
    * result is triangle-sized, not graph-sized.
    */
  def trianglePerVertex(spark: SparkSession, edges: DataFrame): DataFrame = {
    val verts = edges.select(col("src").as("uri"))
      .unionAll(edges.select(col("dst").as("uri")))
      .distinct()
      .select(xxhash64(col("uri")).as("id"), col("uri"))
    val canon = edges
      .select(xxhash64(col("src")).as("sid"), xxhash64(col("dst")).as("did"))
      .select(least(col("sid"), col("did")).as("sid"),
        greatest(col("sid"), col("did")).as("did"))
      .filter(col("sid") =!= col("did"))
      .distinct()
    val canonRdd = Checkpoints.persisted(
      canon.rdd.map(r => (r.getLong(0), r.getLong(1))))
    val g = Checkpoints.track(Graph.fromEdgeTuples(canonRdd, 1)
      .partitionBy(PartitionStrategy.RandomVertexCut))(_.unpersist(_))
    val pv = spark.createDataFrame(
      Checkpoints.track(g.triangleCount())(_.unpersist(_)).vertices)
      .toDF("id", "t")
    verts.join(pv, Seq("id"))
      .filter(col("t") > 0)
      .select(col("uri"), col("t").cast("long").as("triangles"))
  }

  /** Static PageRank, fixed iteration count, on EXACT fixed-point
    * integer arithmetic: ranks are longs scaled by `scale`
    * (rank 1.0 = `scale`), updated synchronously as
    * `r'(v) = 0.15·scale + 0.85 · Σ_{u→v} r(u) div outdeg(u)`
    * with truncating integer division — so the result is bit-identical
    * on any engine and any partitioning (float PageRank depends on
    * summation order, which makes it unverifiable cross-engine).
    * Dangling mass is dropped, matching GraphX's staticPageRank.
    *
    * The damping multiply is computed as
    * `(m div 100)·85 + ((m mod 100)·85) div 100` — algebraically equal
    * to `(m·85) div 100` for non-negative m but overflow-safe: the
    * intermediate never exceeds 85·m/100, so hub vertices aggregating
    * billions of contributions stay within Long range.
    *
    * Scale shape: each iteration is one shuffle join (edges ⋈ rank on
    * src) + one aggregation keyed by dst + one left join back to the
    * vertex set — the canonical distributed PageRank data flow. The
    * edge list, vertex set, and out-degrees are localCheckpoint()ed
    * once and reused every iteration, and each rank generation is
    * checkpointed so the plan stays iteration-sized. Edges that fit
    * the regime gate run the same supersteps on the driver
    * ([[LocalGraph.pageRank]]), bit-identically.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int,
               scale: Long = 1000000000L): DataFrame =
    pageRank(spark, edges, iters, scale, Regime.budget)

  private[graft] def pageRank(spark: SparkSession, edges: DataFrame, iters: Int,
                              scale: Long, budget: Long): DataFrame =
    gated(edges, budget) { g =>
      Regime.localRelation(edges, StructType(Seq(endpointField(edges, "uri"),
        // Spark types a `div` nullable; zero iterations leave the literal
        StructField("rank", LongType, nullable = iters > 0))), g.pageRank(iters, scale))
    }(sparkPageRank(_, iters, scale))

  private def sparkPageRank(edges: DataFrame, iters: Int, scale: Long): DataFrame = {
    val e = Checkpoints.tracked(edges.select(col("src"), col("dst")))
    // vertex set partitioned by its join key: the per-iteration
    // verts⋈msgs left join then lines up with the message
    // aggregation's own hash partitioning — neither side re-shuffles
    // inside the loop (r19, guide §2.4)
    val verts = Checkpoints.tracked(e.select(col("src").as("uri"))
      .unionAll(e.select(col("dst").as("uri"))).distinct()
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("uri")))
    // edge+outdeg relation partitioned by src: each iteration's
    // withDeg⋈rank join moves only the vertex-scale rank table
    val withDeg = Checkpoints.tracked(e.join(
      e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), Seq("src"))
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("src")))
    var rank = verts.select(col("uri"), lit(scale).as("rank"))
    var rankRdd: org.apache.spark.rdd.RDD[_] = null
    for (_ <- 1 to iters) {
      val msgs = withDeg
        .join(rank.select(col("uri").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("uri"), expr("rank div outdeg").as("c"))
        .groupBy(col("uri")).agg(sum(col("c")).as("msum"))
      val (next, nextRdd) = Checkpoints.trackedWithHandle(
        verts.join(msgs, Seq("uri"), "left_outer")
          .select(col("uri"),
            (lit(scale * 15 / 100) +
              expr("(coalesce(msum, 0L) div 100) * 85 " +
                "+ ((coalesce(msum, 0L) % 100) * 85) div 100")).as("rank")))
      if (rankRdd != null) rankRdd.unpersist(blocking = false)
      rank = next; rankRdd = nextRdd
    }
    rank
  }

  /** Min hop count from any vertex of `sources` (undirected). The
    * source list is bounded metadata (e.g. the 5 regions) — collected
    * and broadcast into the Pregel landmark set.
    */
  def shortestHops(spark: SparkSession, edges: DataFrame, sources: DataFrame): DataFrame = {
    val (verts, g) = build(spark, edges, undirected = true)
    val landmarks = sources.select(xxhash64(col("uri")).as("id"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val sp = Checkpoints.track(ShortestPaths.run(g, landmarks))(_.unpersist(_))
      .vertices
      .flatMap { case (id, m) => if (m.isEmpty) None else Some((id, m.values.min)) }
    val dists = spark.createDataFrame(sp).toDF("id", "dist")
    verts.join(dists, Seq("id")).select(col("uri"), col("dist"))
  }

  /** Canonicalize an arbitrary undirected edge list to the
    * (src < dst, distinct) form every link-prediction operator here
    * assumes: least/greatest orient each edge, distinct collapses
    * duplicates and reversals. A reversed or duplicated input edge
    * would otherwise double-count degrees AND leak adjacent pairs
    * past the single-orientation anti-join (ADVICE r11) — one |E|
    * shuffle buys that robustness on the public surface, and on an
    * already-canonical input (every caller in this repo) the distinct
    * is a cheap no-op pass.
    */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
      .distinct()

  /** The priced wedge-volume gate shared by every wedge self-join in
    * this file (the dedup-containment idiom on the graph side): the
    * enumeration emits Σ deg(w)·(deg(w)−1)/2 pairs, priced by one
    * metadata-scale action, the degree HISTOGRAM collected before the
    * join launches, and capped by [[wedgeCap]]. A budget of 0 or less
    * means no cap and prices nothing.
    * `degW` must carry `mw` and `degw` columns (one row per middle vertex).
    */
  private final case class WedgeGate(cap: Long, packIds: Boolean)

  private def pricedWedgeCap(degW: DataFrame, wedgeBudget: Long,
                             who: String): WedgeGate =
    if (wedgeBudget <= 0) WedgeGate(Long.MaxValue, packIds = false)
    else {
      // the same action witnesses the id range (r20): non-negative ids
      // below 2³¹ let every wedge consumer carry its (u,v) pair as ONE
      // packed long — half the aggregation-key bytes through the wedge
      // exchange (guide §2.3 "narrower types"). Middle ids cover ALL
      // vertex ids (the adjacency is the two-orientation union), so
      // the witness covers the spoke columns too.
      val hist = degW.groupBy(col("degw")).agg(count(lit(1)),
        min(col("mw").cast("long")), max(col("mw").cast("long"))).collect()
      val cap = wedgeCap(hist.map(r => r.getLong(0) -> r.getLong(1)).toMap, wedgeBudget)
      val lo = hist.filterNot(_.isNullAt(2)).map(_.getLong(2))
      val hi = hist.filterNot(_.isNullAt(3)).map(_.getLong(3))
      if (cap < Long.MaxValue)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$who: wedge volume over budget $wedgeBudget — " +
            s"middle-degree cap set to $cap (hub middles dropped)")
      WedgeGate(cap, lo.nonEmpty && lo.min >= 0 && hi.max < (1L << 31))
    }

  /** The middle-degree cap for a degree histogram (degree → vertices
    * of that degree), shared by the Spark gate and the driver's
    * [[LocalGraph.resourceAllocation]]. Within budget → no cap (exact
    * enumeration). Over budget → the largest degree whose cumulative
    * wedge volume (low-degree-first) fits, at least 1, so hub middles
    * — the ones a power-law graph concentrates its d² wedges in — are
    * dropped first, and the cap is computed, not guessed.
    */
  private[graphx] def wedgeCap(hist: Map[Long, Long], wedgeBudget: Long): Long = {
    val vol = hist.toSeq.sorted.map { case (d, nv) => d -> nv * (d * (d - 1) / 2) }
    val cum = vol.map(_._2).scanLeft(0L)(_ + _).tail
    if (wedgeBudget <= 0 || cum.lastOption.forall(_ <= wedgeBudget)) Long.MaxValue
    else vol.zip(cum).takeWhile(_._2 <= wedgeBudget).lastOption.fold(1L)(_._1._1)
  }

  /** (u << 32) | v — injective for the id range [[pricedWedgeCap]]
    * witnesses, and ORDER-PRESERVING: u non-negative major, v < 2³²
    * minor, so sorting by the packed long equals sorting by (u, v).
    */
  private def packPair(a: Column, b: Column): Column =
    shiftleft(a.cast("long"), 32).bitwiseOR(b.cast("long"))

  private def unpackHi(pr: Column, dt: DataType): Column =
    shiftright(pr, 32).cast(dt)

  private def unpackLo(pr: Column, dt: DataType): Column =
    pr.bitwiseAND(lit(0xffffffffL)).cast(dt)

  /** Spread the capped adjacency across the session's cores on the
    * wedge join key (r20, guide §2.2/§2.5 — the inverse of the input-
    * skew rule): AQE sizes the self-join's shuffle read by its INPUT
    * bytes, which after the degree cap are metadata-scale, and
    * coalesced the wedge stage to 2 tasks while its OUTPUT is the
    * Σ C(deg,2) wedge volume (measured on the co-order graph: 2
    * tasks, 6.4 s, 2.2 MB shuffle in → 104 MB out, 30 cores idle).
    * An explicit REPARTITION_BY_NUM is exempt from AQE coalescing,
    * and both self-join sides reuse the ONE exchange. Skew safety:
    * the priced cap bounds any middle's wedge fan-out to C(cap, 2),
    * so hash placement stays balanced without AQE's skew splitter —
    * and the partition count derives from defaultParallelism, never
    * a local constant.
    */
  private def spreadForWedgeJoin(adjF: DataFrame): DataFrame =
    adjF.repartition(
      adjF.sparkSession.sparkContext.defaultParallelism, col("mw"))

  /** Common-neighbor link prediction: the top `k` NON-adjacent pairs
    * ranked by shared-neighbor count, with both endpoint degrees
    * alongside so any normalized score (Jaccard, Adamic-Adar-style)
    * derives from the integer columns. Input edges are canonicalized
    * (least/greatest + distinct) so reversed or duplicated edges
    * neither inflate degrees nor slip past the anti-join. All-integer
    * output, total (cn desc, u, v) order — deterministic on any
    * engine.
    *
    * Scale shape: the wedge enumeration (adjacency self-joined on the
    * shared middle vertex) is the triangle-count join — Σ deg(w)²
    * pairs, concentrated in hub middles on any power-law graph. The
    * volume is PRICED before the join by [[pricedWedgeCap]] (default
    * budget 1e7, same ladder as [[resourceAllocation]]): over budget,
    * middles above the computed degree cap are dropped — a hub shared
    * by everything predicts nothing (the idf intuition), so cn counts
    * degrade from the least-informative middles first. Endpoint
    * degrees stay EXACT (they come from the uncapped adjacency).
    * The anti-join against the edge list prunes known links BEFORE
    * the global top-k, and the top-k itself is a per-task k-row heap
    * (TakeOrderedAndProject), never a full sort.
    */
  def commonNeighbors(edges: DataFrame, k: Int = 20,
                      wedgeBudget: Long = 10000000L): DataFrame = {
    // materialize the shared relations ONCE (r19, guide §2.4/§5): the
    // canonical edge set feeds both adjacency orientations plus the
    // final anti-join, the degree table feeds the gate's pricing
    // ACTION plus three joins, and the capped adjacency is self-joined
    // — un-checkpointed, every reference re-derives the caller's edge
    // expression (for the co-order graph a lineitem self-join +
    // distinct), so one query paid it ~5×.
    val e = Checkpoints.tracked(canonicalUndirected(edges))
    val adj = e.select(col("src").as("v"), col("dst").as("w"))
      .union(e.select(col("dst").as("v"), col("src").as("w")))
    val deg = Checkpoints.tracked(
      adj.groupBy(col("v")).agg(count(lit(1)).as("deg")))
    val degW = deg.select(col("v").as("mw"), col("deg").as("degw"))
    val gate = pricedWedgeCap(degW, wedgeBudget, "commonNeighbors")
    val adjF = spreadForWedgeJoin(
      Checkpoints.tracked(adj.join(degW.filter(col("degw") <= gate.cap),
        col("w") === col("mw"))
      .select(col("v"), col("mw"))))
    // the top-k heap depends only on (cn, u, v), so the endpoint-degree
    // joins run AFTER the limit — k rows × 2 joins instead of
    // pair-volume rows × 2 joins (r20, guide §1.2: don't compute what
    // you throw away). Inner 1:1 joins on vertices guaranteed present
    // in deg (u, v come from the adjacency), so the k rows are exactly
    // the same; the final orderBy restores the deterministic order the
    // joins do not preserve.
    val top =
      if (gate.packIds) {
        // one packed long replaces the two-column aggregation/anti-join
        // key; order-preserving, so (cn desc, pr) == (cn desc, u, v)
        val vt = adj.schema("v").dataType
        val wedges = adjF.as("a")
          .join(adjF.select(col("v").as("v2"), col("mw").as("mw2")).as("b"),
            col("mw") === col("mw2") && col("v") < col("v2"))
          .groupBy(packPair(col("v"), col("v2")).as("pr"))
          .agg(count(lit(1)).as("cn"))
        wedges
          .join(e.select(packPair(col("src"), col("dst")).as("pr")),
            Seq("pr"), "left_anti")
          .orderBy(col("cn").desc, col("pr"))
          .limit(k)
          .select(unpackHi(col("pr"), vt).as("u"),
            unpackLo(col("pr"), vt).as("v"), col("cn"))
      } else {
        val wedges = adjF.as("a")
          .join(adjF.select(col("v").as("v2"), col("mw").as("mw2")).as("b"),
            col("mw") === col("mw2") && col("v") < col("v2"))
          .groupBy(col("v").as("u"), col("v2").as("v"))
          .agg(count(lit(1)).as("cn"))
        wedges
          .join(e, wedges("u") === e("src") && wedges("v") === e("dst"),
            "left_anti")
          .orderBy(col("cn").desc, col("u"), col("v"))
          .limit(k)
      }
    top
      .join(deg.select(col("v").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("v"), col("deg").as("deg_v")), "v")
      .orderBy(col("cn").desc, col("u"), col("v"))
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"))
  }

  /** Resource-allocation link prediction (Zhou/Lü/Zhang 2009 —
    * outperforms Adamic-Adar on most benchmarks and, unlike it, is
    * exactly computable): RA(u,v) = Σ_{w ∈ CN(u,v)} 1/deg(w). Each
    * shared middle contributes INVERSELY to its degree — hubs shared
    * by everything predict nothing (the idf intuition), which is the
    * score [[commonNeighbors]]' integer columns canNOT derive (it
    * needs per-MIDDLE weights, not endpoint degrees).
    *
    * Exactness: contributions are floor(1e9/deg(w)) — integer
    * division both engines compute identically, summed in BIGINT
    * (≤1e9 per wedge; 2⁶³ at ~10¹⁰ wedges per pair is unreachable).
    * No 1/ln(deg) Adamic-Adar float whose libm rounding could differ
    * across engines.
    *
    * Scale shape: identical to [[commonNeighbors]] — the wedge join
    * with its Σdeg(w)² cost and the same df-cap escape hatch at
    * 100 TB, one extra broadcast-sized deg join keyed on the middle,
    * anti-join before the per-task top-k heap.
    *
    * Default budget 1e7 (r11, was 1e9): scores over budget degrade
    * only from the hub middles, which carry the SMALLEST 1/deg
    * weights. 1e8 (the dedup pair budget) was measured insufficient
    * on the driver's co-order graph: its 148M-wedge volume is spread
    * over low degrees (cap deg<=138 still kept 98M wedges, ~18s
    * warm), while 1e7 keeps 9.6M (deg<=93) and the whole key drops
    * under the bench's 5s bar with a near-identical top-k.
    *
    * Edges that fit the regime gate enumerate wedges on the driver
    * ([[LocalGraph.resourceAllocation]]) under the same cap; a run
    * whose distinct pairs pass the gate's budget falls back here.
    */
  def resourceAllocation(edges: DataFrame, k: Int = 20,
                         wedgeBudget: Long = 10000000L): DataFrame =
    resourceAllocation(edges, k, wedgeBudget, Regime.budget)

  private[graft] def resourceAllocation(edges: DataFrame, k: Int, wedgeBudget: Long,
                                        budget: Long): DataFrame =
    gated(edges, budget) { g =>
      g.resourceAllocation(k, wedgeBudget, budget).fold(
        sparkResourceAllocation(edges, k, wedgeBudget)) { top =>
        val e = canonicalUndirected(edges)
        val v = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
          .schema.head
        Regime.localRelation(edges, StructType(Seq(v.copy(name = "u"), v,
          StructField("ra_e9", LongType, nullable = true),
          StructField("cn", LongType, nullable = false))), top)
      }
    }(sparkResourceAllocation(_, k, wedgeBudget))

  private def sparkResourceAllocation(edges: DataFrame, k: Int,
                                      wedgeBudget: Long): DataFrame = {
    // materialize the shared relations ONCE (r19, guide §2.4/§5) —
    // same reuse structure as [[commonNeighbors]]: edge set (two
    // adjacency orientations + final anti-join), degree table (the
    // gate's pricing ACTION + the capped-adjacency join), capped
    // adjacency (self-joined). Un-checkpointed, one query re-derived
    // the caller's edge expression ~5×.
    val e = Checkpoints.tracked(canonicalUndirected(edges))
    val adj = e.select(col("src").as("v"), col("dst").as("w"))
      .union(e.select(col("dst").as("v"), col("src").as("w")))
    val degW = Checkpoints.tracked(
      adj.groupBy(col("w")).agg(count(lit(1)).as("degw"))
        .withColumnRenamed("w", "mw"))
    // candidate-volume gate ([[pricedWedgeCap]]): for RA specifically
    // an over-budget cap drops the LOWEST-weight contributions (a
    // deg-d middle adds only 1e9/d per pair), so scores degrade from
    // the least-informative end.
    val gate = pricedWedgeCap(degW, wedgeBudget, "resourceAllocation")
    // degrees ride the ADJACENCY into the self-join (2·|E| rows), not
    // the wedge output (Σdeg² rows) — joining the weight after the
    // enumeration re-shuffles the whole wedge volume for nothing.
    // (r19's checkpoint-side pre-partitioning stays out; r20's
    // spreadForWedgeJoin instead repartitions INSIDE the query, which
    // fixes the measured AQE 2-task coalesce without pinning the
    // checkpoint layout.)
    val adjF = spreadForWedgeJoin(
      Checkpoints.tracked(adj.join(degW.filter(col("degw") <= gate.cap),
        col("w") === col("mw"))
      .select(col("v"), col("mw"), col("degw"))))
    if (gate.packIds) {
      // packed pair key (see pricedWedgeCap): halves the aggregation
      // key bytes through the wedge exchange, single-column anti-join,
      // order-preserving so (ra_e9 desc, pr) == (ra_e9 desc, u, v)
      val vt = adj.schema("v").dataType
      val wedges = adjF.as("a")
        .join(adjF.select(col("v").as("v2"), col("mw").as("mw2")).as("b"),
          col("mw") === col("mw2") && col("v") < col("v2"))
        .groupBy(packPair(col("v"), col("v2")).as("pr"))
        .agg(sum(expr("1000000000 div degw")).as("ra_e9"),
          count(lit(1)).as("cn"))
      wedges
        .join(e.select(packPair(col("src"), col("dst")).as("pr")),
          Seq("pr"), "left_anti")
        .orderBy(col("ra_e9").desc, col("pr"))
        .limit(k)
        .select(unpackHi(col("pr"), vt).as("u"),
          unpackLo(col("pr"), vt).as("v"), col("ra_e9"), col("cn"))
    } else {
      val wedges = adjF.as("a")
        .join(adjF.select(col("v").as("v2"), col("mw").as("mw2")).as("b"),
          col("mw") === col("mw2") && col("v") < col("v2"))
        .groupBy(col("v").as("u"), col("v2").as("v"))
        .agg(sum(expr("1000000000 div degw")).as("ra_e9"),
          count(lit(1)).as("cn"))
      wedges
        .join(e, wedges("u") === e("src") && wedges("v") === e("dst"),
          "left_anti")
        .orderBy(col("ra_e9").desc, col("u"), col("v"))
        .limit(k)
        .select(col("u"), col("v"), col("ra_e9"), col("cn"))
    }
  }

  /** Average-neighbor-degree profile (the knn(v) curve of network
    * science): per vertex, its degree and the SUM of its neighbors'
    * degrees — the assortativity statistic at vertex granularity
    * (graph_assortativity folds this same quantity to one global
    * correlation; here each vertex keeps its own row, the feature a
    * sampler or hub-screen consumes). Exact integer columns (deg,
    * sum_nbr_deg) — the ratio is one derivable divide downstream.
    *
    * Scale shape: degrees ride the adjacency through ONE keyed join
    * on the middle (2·|E| rows against the vocabulary-scale degree
    * table) + one partial-agg fold — linear, no wedge enumeration
    * anywhere (r11).
    */
  def avgNeighborDegree(edges: DataFrame): DataFrame = {
    // the adjacency feeds the degree fold AND the join probe — 2·|E|
    // materialized once instead of deriving the caller's edge
    // expression per reference (r19)
    val adj = Checkpoints.tracked(
      edges.select(col("src").as("v"), col("dst").as("w"))
        .union(edges.select(col("dst").as("v"), col("src").as("w"))))
    val degW = adj.groupBy(col("w")).agg(count(lit(1)).as("degw"))
      .withColumnRenamed("w", "mw")
    adj.join(degW, col("w") === col("mw"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("deg"), sum(col("degw")).as("sum_nbr_deg"))
  }

  /** Directed-graph reciprocity: the fraction of edges whose reverse
    * edge also exists — the one-number card that says whether a
    * directed relation is really a poorly-encoded undirected one
    * (reciprocity ≈ 1) or genuinely directional (≈ 0), which decides
    * whether the undirected analytics family even applies. Exact
    * integers (n_edges, n_reciprocal) — the ratio is one derivable
    * divide; computed as a self semi-join on the distinct edge set,
    * one keyed shuffle.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    // three consumers (count, semi-join probe, semi-join build) — one
    // materialization (r19)
    val e = Checkpoints.tracked(
      edges.select(col("src"), col("dst")).distinct())
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
  }

  /** Truncated Katz centrality with β = 1/8, three terms, scaled by
    * 8³ so every score is an exact BIGINT:
    * katz_e(u) = 64·walks₁(u) + 8·walks₂(u) + walks₃(u), where
    * walksₖ(u) counts length-k walks leaving u. The textbook
    * resolvent (I − βA)⁻¹ is a linear solve no 100 TB graph runs;
    * the standard production form IS the truncated power series, and
    * walksₖ folds by the recurrence walksₖ = A·walksₖ₋₁ — each term
    * ONE keyed join of the previous per-vertex counts against the
    * adjacency plus a partial-agg sum, so the plan is (terms−1)
    * joins regardless of graph size. β = 1/8 keeps the series
    * contraction-dominated for max-degree < 8 neighborhoods and the
    * scale factor integral; walk counts reach deg·maxdeg² — BIGINT
    * overflows only past ~10⁶-degree hubs cubed, where a truncated
    * Katz is the wrong tool anyway.
    */
  def katzCentrality(edges: DataFrame, k: Int = 30): DataFrame = {
    // the adjacency feeds w1 plus two walk-recurrence joins — one
    // materialization instead of ~6 derivations of the caller's edge
    // expression (r19)
    val adj = Checkpoints.tracked(
      edges.select(col("src").as("v"), col("dst").as("w"))
        .union(edges.select(col("dst").as("v"), col("src").as("w"))))
    val w1 = adj.groupBy(col("v")).agg(count(lit(1)).as("w1"))
    def nextWalks(prev: DataFrame, cIn: String, cOut: String): DataFrame =
      adj.join(prev.select(col("v").as("w"), col(cIn)), "w")
        .groupBy(col("v")).agg(sum(col(cIn)).as(cOut))
    val w2 = nextWalks(w1, "w1", "w2")
    val w3 = nextWalks(w2, "w2", "w3")
    w1.join(w2, "v").join(w3, "v")
      .select(col("v"),
        (col("w1") * 64 + col("w2") * 8 + col("w3")).as("katz_e"))
      .orderBy(col("katz_e").desc, col("v"))
      .limit(k)
  }

  /** Deterministic hash-guided walk sampling — the corpus-generation
    * step of node2vec/DeepWalk-style graph embeddings, with the
    * random choice replaced by a reproducible one: at step k the walk
    * at `cur` moves to the neighbor minimizing
    * md5(start|k|cur|neighbor). The hash keys on (start, step), so
    * walks from different starts diverge like independent random
    * walks, yet every engine and every rerun produces the SAME walks
    * (the property a distributed corpus build needs — re-running a
    * failed shard regenerates identical rows).
    *
    * Per step: one keyed join of the frontier against the
    * checkpointed bidirectional edge relation (frontier size =
    * surviving starts — AQE broadcasts it while small, shuffles when
    * a production run walks from millions of starts) and one min_by
    * fold. `steps` is a query constant, so the plan is `steps` joins
    * regardless of graph size; ties are impossible (min_by keys on a
    * full md5 of distinct inputs).
    */
  def walkSample(edges: DataFrame, starts: DataFrame, steps: Int = 3): DataFrame = {
    val bi = Checkpoints.tracked(
      edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var cur = starts.select(col("v").as("start"), col("v").as("cur"))
    val outs = Seq.newBuilder[DataFrame]
    outs += cur.select(col("start"), lit(0).as("step"), col("cur").as("node"))
    for (k <- 1 to steps) {
      cur = cur.join(bi, col("cur") === col("src"))
        .withColumn("h", md5(concat_ws("|",
          col("start"), lit(k), col("cur"), col("dst")).cast("binary")))
        .groupBy(col("start"))
        .agg(min_by(col("dst"), col("h")).as("nxt"))
        .select(col("start"), col("nxt").as("cur"))
      outs += cur.select(col("start"), lit(k).as("step"), col("cur").as("node"))
    }
    outs.result().reduce(_ unionAll _)
  }

  /** HITS hubs & authorities over a DIRECTED edge set, two full
    * Kleinberg rounds in EXACT integer arithmetic: a₁ = in-degree
    * (the uniform-hub first authority pass), h₁ = Σ_out a₁,
    * a₂ = Σ_in h₁. Unnormalized on purpose — normalization only
    * rescales within an iteration, so the top-k ORDER is identical,
    * and integer scores hash identically on every engine where the
    * float l2-normalized variant would drift. Growth bound: scores
    * multiply by ≤ max-degree per half-round, so BIGINT holds through
    * a₂ for degree ≤ ~10⁶ graphs at 10⁹ edges — the regime this
    * runs in; beyond that the same loop runs in DECIMAL(38).
    *
    * Shape: each half-round is one dimension-table join back onto the
    * edge relation plus a partial-agg shuffle keyed alternately by
    * dst/src — the canonical message-passing round (the pagerank loop
    * without the damping), with the per-task top-k heaps
    * (TakeOrderedAndProject) collapsing the output to 2k rows.
    */
  def hits(edges: DataFrame, k: Int = 20): DataFrame = {
    // reused by three passes → materialize once (the §4 checkpoint
    // rule; recomputing the distinct edge derivation 3× is the trap)
    val e = Checkpoints.tracked(
      edges.select(col("src"), col("dst")))
    val a1 = e.groupBy(col("dst")).agg(count(lit(1)).as("a1"))
    val h1 = e.join(a1, "dst")
      .groupBy(col("src")).agg(sum(col("a1")).as("h1"))
    val a2 = e.join(h1, "src")
      .groupBy(col("dst")).agg(sum(col("h1")).as("a2"))
    val auth = a2.orderBy(col("a2").desc, col("dst")).limit(k)
      .select(lit("authority").as("kind"), col("dst").as("vid"),
        col("a2").as("score"))
    val hubs = h1.orderBy(col("h1").desc, col("src")).limit(k)
      .select(lit("hub").as("kind"), col("src").as("vid"),
        col("h1").as("score"))
    auth.union(hubs)
  }

  /** Jaccard link prediction: J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)| for
    * non-adjacent pairs — the NORMALIZED neighbor-overlap score.
    * [[commonNeighbors]] ranks by the raw count (hub pairs dominate);
    * Jaccard divides by the union so two low-degree vertices sharing
    * most of their neighborhoods outrank two hubs sharing a sliver —
    * a different top-k, not a re-sort of the same one.
    *
    * Exactness: the union is derivable (deg_u + deg_v − cn, all
    * integers), and the ranking witness is jac_e6 = cn·10⁶ div union —
    * integer division both engines compute identically; no IEEE
    * divide anywhere in the ordering.
    *
    * Scale shape: identical to [[commonNeighbors]] — one wedge
    * self-join on the middle (Σdeg(w)² pairs), PRICED before launch
    * by the shared [[pricedWedgeCap]] gate (default budget 1e7; over
    * budget, hub middles above the computed degree cap drop out of cn
    * while endpoint degrees — the union denominator — stay exact),
    * two vocabulary-scale degree joins on the ENDPOINTS
    * (post-aggregation, so they touch pair rows not wedge rows),
    * anti-join against the canonicalized edge set BEFORE the per-task
    * k-row heap (r11, gated r12).
    */
  def jaccardLinkPred(edges: DataFrame, k: Int = 20,
                      wedgeBudget: Long = 10000000L): DataFrame = {
    // shared-relation checkpoints — see [[commonNeighbors]] (r19)
    val e = Checkpoints.tracked(canonicalUndirected(edges))
    val adj = e.select(col("src").as("v"), col("dst").as("w"))
      .union(e.select(col("dst").as("v"), col("src").as("w")))
    val deg = Checkpoints.tracked(
      adj.groupBy(col("v")).agg(count(lit(1)).as("deg")))
    val degW = deg.select(col("v").as("mw"), col("deg").as("degw"))
    val gate = pricedWedgeCap(degW, wedgeBudget, "jaccardLinkPred")
    val adjF = spreadForWedgeJoin(
      Checkpoints.tracked(adj.join(degW.filter(col("degw") <= gate.cap),
        col("w") === col("mw"))
      .select(col("v"), col("mw"))))
    // unlike commonNeighbors, the jaccard ORDER depends on the degree
    // joins (union_n), so they stay before the top-k — but the wedge
    // aggregation and anti-join still run on the packed key when the
    // id range allows (r20, guide §2.3)
    val pairs =
      if (gate.packIds) {
        val vt = adj.schema("v").dataType
        adjF.as("a")
          .join(adjF.select(col("v").as("v2"), col("mw").as("mw2")).as("b"),
            col("mw") === col("mw2") && col("v") < col("v2"))
          .groupBy(packPair(col("v"), col("v2")).as("pr"))
          .agg(count(lit(1)).as("cn"))
          .join(e.select(packPair(col("src"), col("dst")).as("pr")),
            Seq("pr"), "left_anti")
          .select(unpackHi(col("pr"), vt).as("u"),
            unpackLo(col("pr"), vt).as("v"), col("cn"))
      } else {
        val wedges = adjF.as("a")
          .join(adjF.select(col("v").as("v2"), col("mw").as("mw2")).as("b"),
            col("mw") === col("mw2") && col("v") < col("v2"))
          .groupBy(col("v").as("u"), col("v2").as("v"))
          .agg(count(lit(1)).as("cn"))
        wedges.join(e, wedges("u") === e("src") && wedges("v") === e("dst"),
          "left_anti")
      }
    pairs
      .join(deg.select(col("v").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("v"), col("deg").as("deg_v")), "v")
      .withColumn("union_n", col("deg_u") + col("deg_v") - col("cn"))
      .withColumn("jac_e6", expr("(cn * 1000000) div union_n"))
      .orderBy(col("jac_e6").desc, col("u"), col("v"))
      .limit(k)
      .select(col("u"), col("v"), col("cn"), col("union_n"), col("jac_e6"))
  }

  /** Rich-club profile (Colizza et al. 2006): for each degree
    * threshold κ present in the graph, the subgraph induced by
    * vertices of degree > κ — how many such vertices (n_k), how many
    * edges stay inside (e_k), and the exact-integer density witness
    * φ_e6 = 2·e_k·10⁶ div (n_k·(n_k−1)). A rising φ(κ) says hubs
    * preferentially interconnect (the "rich club"); flat-or-falling
    * says hub wiring is random — the one-card structural diagnosis
    * degree_hist alone can't give.
    *
    * Scale shape: both curves are REVERSE CUMULATIVES over the
    * degree histogram — n_k from the vocabulary-scale degree table,
    * e_k from one per-edge min(deg_u, deg_v) join (2 keyed joins on
    * |E| rows) folded to a histogram; the window runs over the
    * DISTINCT-DEGREE ladder (hundreds of rows at any corpus size).
    * No wedge enumeration, no quadratic anywhere (r11).
    */
  def richClub(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Checkpoints.tracked(edges.select(col("src"), col("dst")).distinct())
    val adj = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
    val deg = Checkpoints.tracked(
      adj.groupBy(col("v")).agg(count(lit(1)).as("deg")))
    // vertices with deg > κ: reverse cumulative of the degree histogram
    val degHist = deg.groupBy(col("deg")).agg(count(lit(1)).as("nv"))
    // edges whose BOTH endpoints exceed κ: an edge survives threshold
    // κ iff min(deg_u, deg_v) > κ — reverse cumulative of the
    // min-degree histogram
    val minDeg = e
      .join(deg.select(col("v").as("src"), col("deg").as("du")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("dv")), "dst")
      .select(least(col("du"), col("dv")).as("mdeg"))
      .groupBy(col("mdeg")).agg(count(lit(1)).as("ne"))
    val one = substring(col("k").cast("string"), 0, 0)
    val wAbove = Window.partitionBy(one).orderBy(col("k"))
      .rowsBetween(1, Window.unboundedFollowing)
    // thresholds = the distinct degrees; at κ = max degree the club is
    // empty, so that ladder rung drops out via the n_k >= 2 guard
    val ladder = degHist.select(col("deg").as("k"), col("nv"))
      .join(minDeg.withColumnRenamed("mdeg", "k"), Seq("k"), "full_outer")
      .na.fill(0L, Seq("nv", "ne"))
    ladder
      .withColumn("n_k", sum(col("nv")).over(wAbove))
      .withColumn("e_k", sum(col("ne")).over(wAbove))
      .filter(col("n_k") >= 2)
      // no coalesce on e_k: any row passing n_k >= 2 has a non-empty
      // following frame, and ne is na.fill'd — sum(ne) can't be NULL
      // (the oracle's coalesce exists only for DuckDB's eval order)
      .select(col("k"), col("n_k"), col("e_k"),
        expr("(2 * e_k * 1000000) div (n_k * (n_k - 1))").as("phi_e6"))
  }
}
