package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.Regime
import graft.functions.FastHash.md5 // shadows functions.md5 → Md5Fast (r19)

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Brute force is one narrow pass + TakeOrderedAndProject; the LSH and
  * IVF variants bound the scored candidate set (bucket / probed
  * partitions), which is what survives when "500 vectors" becomes
  * "50 billion": candidate generation is a key lookup, scoring is
  * proportional to candidates, not corpus.
  */
object Similarity {

  /** Cosine over two array<double> columns: a fused native Catalyst
    * expression (one loop, no intermediate arrays, whole-stage
    * codegen) — see [[graft.functions.CosineSimilarity]].
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** The composable functions._ form (zip_with + aggregate), kept as
    * the reference implementation the native expression is tested
    * against.
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  private def vecs(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  /** The deterministic query vector: `e`'s ([[vecs]]) vector of
    * `queryId`. A single row — broadcast into every variant.
    */
  private def queryVec(e: DataFrame, queryId: Long): DataFrame =
    broadcast(e.filter(col("vec_id") === queryId).select(col("v").as("qv")))

  /** Exact top-k by cosine vs the query vector; (vec_id, rank). */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame =
    vecs(embeddings)
      .filter(col("vec_id") =!= queryId)
      .crossJoin(queryVec(vecs(embeddings), queryId))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"))

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack/Clarke/
    * Büttcher's RRF — the production RAG ranker): a lexical BM25 arm
    * over the documents table and an exact cosine arm over the
    * embeddings table (doc_id ≡ vec_id in this corpus), each ranked
    * independently to top-`n`, fused by Σ 1/(rrfK + rank). Ranks are
    * INTEGERS with a deterministic tiebreak (score desc, id asc), so
    * the fused double is the same two-term sum on any engine — no
    * data-ordered float accumulation anywhere.
    *
    * Scale shape: each arm is its own operator's plan (BM25's
    * map-side folds; the vector arm swaps for any ANN variant
    * unchanged); both are top-n bounded BEFORE the fuse, so the full
    * outer join and the rank windows run on ≤2n constant rows —
    * arm cost dominates, fuse cost is nil at any corpus size.
    */
  def rrfFusion(docs: DataFrame, embeddings: DataFrame,
                queryId: Long = 0,
                terms: Seq[String] = Seq("spark", "merge", "window"),
                n: Int = 50, k: Int = 20, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextAnalysis.bm25TopK(docs, terms, n)
      .withColumn("r_lex", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id").as("id"), col("r_lex"))
    val vec = vecs(embeddings)
      .filter(col("vec_id") =!= queryId)
      .crossJoin(queryVec(vecs(embeddings), queryId))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(n)
      .withColumn("r_vec", row_number()
        .over(Window.orderBy(col("cos").desc, col("vec_id")))
        .cast("long"))
      .select(col("vec_id").as("id"), col("r_vec"))
    lex.join(vec, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_vec")), lit(0.0)))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
      .select(col("id").as("doc_id"), col("r_lex"), col("r_vec"), col("rrf"))
  }

  /** Deterministic ±1 hyperplane coefficients from md5(plane_dim). */
  private[pipeline] def hyperplane(plane: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { d =>
      val h = md.digest(s"${plane}_$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** Integer LSH bucket code (long, so up to 63 planes fit): bit p set
    * iff the vector's dot product with hyperplane p is non-negative.
    * Native fused expression ([[graft.functions.HyperplaneCode]]) —
    * the per-row hot kernel of every LSH path, including the at-scale
    * banded knn regime, runs as one codegen'd planes × dims loop nest
    * with zero per-row allocation. (The composable HOF twin it
    * replaced lives on in [[bucketCodeHof]] as the spec's
    * equivalence witness.)
    */
  private[pipeline] def bucketCode(v: Column, planes: Int, dims: Int): Column =
    graft.functions.HyperplaneCode(v, planes, dims)

  /** The composable-form twin of [[bucketCode]]: one nested fold over
    * a plane MATRIX literal, not `planes` separate dot-product
    * expressions — the expression tree stays constant-size however
    * many planes are requested (48 unrolled dots blew janino's 64 KB
    * method limit). Kept as the independently-derived implementation
    * the spec checks the native expression against.
    */
  private[pipeline] def bucketCodeHof(v: Column, planes: Int, dims: Int): Column = {
    val mat = typedLit(Array.tabulate(planes)(p => hyperplane(p, dims)))
    val powers = typedLit(Array.tabulate(planes)(p => 1L << p))
    val dots = transform(mat, pl =>
      aggregate(zip_with(v, pl, (x, y) => x * y), lit(0.0), (a, x) => a + x))
    aggregate(zip_with(dots, powers,
      (d, pw) => when(d >= 0, pw).otherwise(lit(0L))), lit(0L), (a, x) => a + x)
  }

  /** Random-hyperplane LSH with multi-probe: candidates live in any
    * bucket within Hamming distance `probeHam` of the query's bucket
    * (probing neighbor buckets buys recall without extra hash
    * tables); exact top-k within the candidates.
    *
    * Scale shape: the probe set is enumerated as XOR masks
    * (sum_{i<=probeHam} C(planes,i) buckets — 37 for 8 planes, ham 2)
    * and broadcast, so candidate generation stays a broadcast
    * equality join on the bucket code no matter the corpus size;
    * scoring cost is proportional to candidates only.
    */
  def lshTopK(embeddings: DataFrame, queryId: Long, k: Int,
              planes: Int = 8, dims: Int = 64, probeHam: Int = 2): DataFrame = {
    val e = vecs(embeddings)
      .withColumn("bucket", bucketCode(col("v"), planes, dims))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    val masks = (0 until (1 << planes)).filter(Integer.bitCount(_) <= probeHam)
    val probes = broadcast(q.select(col("qv"),
      explode(array(masks.map(m => col("qbucket").bitwiseXOR(lit(m))): _*))
        .as("pbucket")))
    e.filter(col("vec_id") =!= queryId)
      .join(probes, col("bucket") === col("pbucket"))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"))
  }

  /** Recall@k of the approximate LSH path against brute-force ground
    * truth for one query — the evaluation operator every ANN
    * deployment runs before trusting an index. Both top-k sets come
    * from the ALREADY-SHIPPED operators ([[lshTopK]],
    * [[bruteForceTopK]]), so this measures exactly what production
    * would serve; the overlap count is a join of two k-row frames —
    * driver-size inputs, integer/exact-division output (n_hit/k over
    * two small ints is one deterministic IEEE divide, no float
    * accumulation anywhere).
    *
    * At 100 TB the ground-truth side is the expensive half — which is
    * the point: recall is evaluated on a sampled query set (here one
    * probe id), never the full corpus, and the result is a scalar per
    * query that rolls up with a plain avg.
    */
  def recallAtK(embeddings: DataFrame, queryId: Long = 0,
                k: Int = 10): DataFrame = {
    val truth = bruteForceTopK(embeddings, queryId, k)
    val approx = lshTopK(embeddings, queryId, k)
    approx.join(truth, "vec_id")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(k).as("k"), col("n_hit"),
        (col("n_hit").cast("double") / lit(k)).as("recall"))
  }

  /** LSH index-balance card: the bucket-occupancy histogram — the
    * ops chart that decides whether the hyperplane code still spreads
    * the corpus (a skewed embedding distribution collapses buckets,
    * and every probe then scans the hot bucket; data_shard_skew's
    * sibling on the index side). Log₂ occupancy buckets × (bucket
    * count, vectors held) in two partial-agg folds; the first is the
    * index build itself (one codegen'd bucketCode pass).
    */
  def bucketOccupancy(embeddings: DataFrame, planes: Int = 8,
                      dims: Int = 64): DataFrame =
    vecs(embeddings)
      .select(bucketCode(col("v"), planes, dims).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .groupBy(length(bin(col("n"))).cast("int").as("occ_b"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_vectors"))

  /** IVF list-size histogram — [[bucketOccupancy]]'s twin for the
    * coarse quantizer: log₂ buckets of vectors per centroid list. A
    * collapsed list distribution means nprobe=k scans most of the
    * corpus; this is the card that says so before deployment.
    */
  def ivfListSizes(embeddings: DataFrame): DataFrame =
    kmeansAssign(embeddings)
      .groupBy(col("assigned")).agg(count(lit(1)).as("n"))
      .groupBy(length(bin(col("n"))).cast("int").as("occ_b"))
      .agg(count(lit(1)).as("n_lists"), sum(col("n")).as("n_vectors"))

  /** IVF tuning curve: recall@k of [[ivfTopK]] at each probe count —
    * the sweep that decides nprobe for a deployment (the dedup
    * threshold_sweep's sibling on the index side). Probe counts are
    * query constants, so the plan is one union branch per point, each
    * the shipped operator joined against the shipped ground truth.
    */
  def ivfProbeSweep(embeddings: DataFrame, queryId: Long = 0, k: Int = 10,
                    probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    // checkpoint the shared truth (the dimTruncEval idiom): fed
    // un-materialized into |probes| union branches, Spark would
    // duplicate the brute-force corpus scan into each branch
    val truth = graft.Checkpoints.tracked(
      bruteForceTopK(embeddings, queryId, k))
    probes.map { np =>
      ivfTopK(embeddings, queryId, k, np).join(truth, "vec_id")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(np).as("nprobe"), lit(k).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / lit(k)).as("recall"))
    }.reduceLeft(_.unionByName(_))
  }

  /** IVF+PQ tuning curve: recall@k of [[ivfPqTopK]] at each probe
    * count, at fixed subspaces/rerank — [[ivfProbeSweep]]'s twin for
    * the COMPOSED production index: how many coarse lists buy back
    * the recall the two stacked approximations (pruning + quantized
    * scoring) cost together. Probe counts are query constants, so
    * the plan is one union branch per point, each the shipped
    * operator joined against the shipped float truth.
    */
  def ivfPqProbeSweep(embeddings: DataFrame, queryId: Long = 0,
                      k: Int = 10, rerank: Int = 32,
                      probes: Seq[Int] = Seq(1, 2, 4)): DataFrame =
    ivfPqProbeSweep(embeddings, queryId, k, rerank, probes, Regime.budget)

  /** [[ivfPqProbeSweep]] with every branch's [[ivfPqTopK]] at an
    * explicit gate budget; tests pass 0 to force the Spark side.
    */
  private[graft] def ivfPqProbeSweep(embeddings: DataFrame, queryId: Long,
                                     k: Int, rerank: Int, probes: Seq[Int],
                                     budget: Long): DataFrame = {
    // checkpoint the shared truth (the dimTruncEval idiom) — one
    // materialized truth subtree instead of one scan per probe branch
    val truth = graft.Checkpoints.tracked(
      bruteForceTopK(embeddings, queryId, k))
    probes.map { np =>
      // ivfPqTopK's default quantizer
      ivfPqTopK(embeddings, queryId, k, np, rerank, 8, 64, 1e6, 50, 128, budget)
        .join(truth, "vec_id")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(np).as("nprobe"), lit(k).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / lit(k)).as("recall"))
    }.reduceLeft(_.unionByName(_))
  }

  /** Quantization-error evaluation: recall@k of the SQ8 (int8)
    * ranking against the float brute-force truth — the number that
    * decides whether the 4× memory-bandwidth saving of a quantized
    * index costs any answer quality. Both sides are the SHIPPED
    * operators ([[int8TopK]], [[bruteForceTopK]]); overlap is a
    * k-row join. The SQ8 axis next to [[recallAtK]]'s LSH axis and
    * the truncation eval's width axis — the three dials a 100 TB
    * vector deployment tunes.
    */
  def sq8RecallEval(embeddings: DataFrame, queryId: Long = 0,
                    k: Int = 10): DataFrame = {
    val truth = bruteForceTopK(embeddings, queryId, k)
    val approx = int8TopK(embeddings, queryId, k).select(col("vec_id"))
    approx.join(truth, "vec_id")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(k).as("k"), col("n_hit"),
        (col("n_hit").cast("double") / lit(k)).as("recall"))
  }

  /** Scored per-query top-k of `q` (query_id, qv) against corpus `e`
    * (vec_id, label, v): the shared engine behind [[knnJoin]] and
    * [[knnClassify]]. Returns (query_id, vec_id, label, rnk).
    *
    * Two regimes, gated on the ACTUAL query count (one cheap narrow
    * count, not a guess from configuration):
    *
    * - `count <= maxBroadcastQueries`: exact — the query side is
    *   broadcast and the corpus scanned once (broadcast nested-loop
    *   with the fused cosine). The right plan while the query set fits
    *   an executor.
    * - above the gate: the broadcast would OOM, so candidates come
    *   from the multi-probe hyperplane-LSH band machinery instead
    *   ([[bucketCode]], same probe-mask enumeration as [[lshTopK]]):
    *   both sides hash to bucket codes, the query side explodes its
    *   probe masks, and the join is a plain shuffled equi-join on the
    *   bucket code — no broadcast, no nested loop, candidate volume
    *   O(probes × bucket occupancy) regardless of either side's size.
    *   This path is approximate (band recall < 1), the standard
    *   trade at the scale where the exact join stops being runnable.
    */
  private[pipeline] def knnTopK(e: DataFrame, q: DataFrame, k: Int,
                                maxBroadcastQueries: Long,
                                planes: Int = 8, dims: Int = 64,
                                probeHam: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded probe, not a full count: only the threshold crossing
    // matters, and limit(gate+1) short-circuits via LocalLimit instead
    // of scanning the whole query derivation a second time
    val probe = math.min(maxBroadcastQueries + 1, Int.MaxValue.toLong).toInt
    val paired =
      if (q.limit(probe).count() <= maxBroadcastQueries)
        e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      else {
        // regime change is visible to callers, not silent: above the
        // gate results are approximate (band recall < 1). A
        // non-positive gate means the caller FORCED this regime —
        // warning about deliberate configuration would cry wolf.
        if (maxBroadcastQueries > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"knnTopK: query count exceeds maxBroadcastQueries=" +
              s"$maxBroadcastQueries — using approximate LSH-band " +
              "candidates (recall < 1) instead of the exact broadcast join")
        val eb = e.withColumn("bucket", bucketCode(col("v"), planes, dims))
        val masks = (0 until (1 << planes)).filter(Integer.bitCount(_) <= probeHam)
        val qb = q
          .withColumn("qbucket", bucketCode(col("qv"), planes, dims))
          .select(col("query_id"), col("qv"),
            explode(array(masks.map(m =>
              col("qbucket").bitwiseXOR(lit(m.toLong))): _*)).as("bucket"))
        eb.join(qb, Seq("bucket"))
          .filter(col("vec_id") =!= col("query_id"))
          .drop("bucket")
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    paired
      .withColumn("cos", cosine(col("v"), col("qv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col("label"), col("rnk"))
  }

  /** Batch k-NN join: a deterministic id-sliced query subset against
    * the whole corpus — the bulk companion of the single-query top-k
    * forms. Plan regime (exact broadcast vs LSH band shuffle) is
    * picked by [[knnTopK]]'s query-count gate; the default gate keeps
    * every query set that plausibly fits an executor on the exact
    * path, so the driver-tested slice is bit-reproducible.
    */
  def knnJoin(embeddings: DataFrame, k: Int = 5, querySlice: Int = 50,
              maxBroadcastQueries: Long = 100000L): DataFrame = {
    val e = vecs(embeddings)
    val q = e.filter(col("vec_id") % querySlice === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    knnTopK(e, q, k, maxBroadcastQueries)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  /** Mutual (reciprocal) k-NN pairs over a deterministic id slice:
    * (a, b) survives iff b is in a's top-k AND a is in b's top-k —
    * the re-ranking / duplicate-validation primitive (mutual
    * neighborhood is a far stronger tie than one-directional rank,
    * the classic k-reciprocal signal). Both directions come from ONE
    * [[knnTopK]] pass with the slice as both corpus and query side
    * (regime — exact broadcast vs LSH-band shuffle — picked by the
    * same query-count gate as [[knnJoin]]), then mutuality is a
    * keyed self-equi-join on the reversed (query, neighbor) pair —
    * lists-of-neighbors scale, never vectors². Emitted once per
    * unordered pair (a < b) with both ranks.
    */
  def mutualTopK(embeddings: DataFrame, k: Int = 5,
                 slice: Int = 10,
                 maxBroadcastQueries: Long = 100000L): DataFrame = {
    val e = vecs(embeddings).filter(col("vec_id") % slice === 0)
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
    val knn = knnTopK(e, q, k, maxBroadcastQueries)
      .select(col("query_id"), col("vec_id"), col("rnk"))
    knn.filter(col("query_id") < col("vec_id"))
      .join(knn
          .select(col("vec_id").as("query_id"), col("query_id").as("vec_id"),
            col("rnk").as("rnk_ba")),
        Seq("query_id", "vec_id"))
      .select(col("query_id").as("a"), col("vec_id").as("b"),
        col("rnk").as("rnk_ab"), col("rnk_ba"))
  }

  /** k-NN classification: each query vector takes the majority label
    * of its k nearest corpus neighbors (ties break on the smaller
    * label — deterministic on any cluster). Same scale shape as
    * [[knnJoin]] (regime picked by [[knnTopK]]'s query-count gate);
    * the vote is a per-query-sized aggregation on top. Integer
    * outputs only, so the result hashes stably cross-engine.
    */
  def knnClassify(embeddings: DataFrame, k: Int = 5, querySlice: Int = 50,
                  maxBroadcastQueries: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vecs(embeddings)
    val q = e.filter(col("vec_id") % querySlice === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val byVotes = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("label").asc)
    knnTopK(e, q, k, maxBroadcastQueries)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("r", row_number().over(byVotes))
      .filter(col("r") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("n_votes"))
  }

  /** Range search: every vector within cosine ≥ tau of the query —
    * the threshold companion of top-k (what vector stores call a
    * radius/range query). One narrow corpus pass with the broadcast
    * query vector and the fused cosine; no sort, no window — the
    * filter is the whole operator, so it scales as a pure scan.
    */
  def rangeSearch(embeddings: DataFrame, queryId: Long,
                  tau: Double = 0.3): DataFrame =
    rangeSearchAgainst(
      vecs(embeddings).filter(col("vec_id") =!= queryId),
      embeddings.filter(col("vec_id") === queryId), tau)

  /** The stream-capable form: corpus and query come from SEPARATE
    * relations, so the corpus can be an unbounded stream screened
    * against a static query set (stream-static broadcast join +
    * stateless filter — append mode, no state store at all).
    */
  def rangeSearchAgainst(corpus: DataFrame, query: DataFrame,
                         tau: Double): DataFrame = {
    val c =
      if (corpus.columns.contains("v")) corpus
      else corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    c.crossJoin(broadcast(
        query.select(col("embedding").cast("array<double>").as("qv"))))
      .filter(cosine(col("v"), col("qv")) >= tau)
      .select(col("vec_id"))
  }

  /** Symmetric int8 quantization, per-vector max-abs scale — the
    * standard storage/bandwidth reduction before an ANN index is
    * built (4 bytes/dim → 1). Pure per-row array expressions, one
    * narrow pass at any corpus size. Truncation (cast, not round) is
    * used so the result is engine-portable bit-for-bit; the max-abs
    * element itself maps to ±127 exactly. Projects a scalar digest
    * (md5 of the comma-joined codes + their sum) rather than the raw
    * array so the oracle compare stays string-stable.
    */
  /** (vec_id, label, q int-code array, scale) — the quantized view
    * shared by the digest key and the SQ8 retrieval path.
    */
  private[pipeline] def quantized(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("m",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("q", transform(col("embedding"),
        x => when(col("m") === 0d, lit(0))
          .otherwise((x.cast("double") * 127d / col("m")).cast("int"))))
      .select(col("vec_id"), col("label"), col("q"),
        (col("m") / 127d).as("scale"))

  def quantizeInt8(embeddings: DataFrame): DataFrame =
    quantized(embeddings)
      .select(col("vec_id"),
        col("scale"),
        md5(concat_ws(",", transform(col("q"), _.cast("string")))
          .cast("binary")).as("q_md5"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"))

  /** Distributed Gram matrix XᵀX over the INT8-quantized codes — the
    * covariance fold PCA / whitening / OPQ rotation training starts
    * from, exact in integer arithmetic (the float Gram would drift
    * with partition summation order). A treeAggregate of per-partition
    * primitive long[d(d+1)/2] accumulators (the BloomContains build's
    * idiom): each partition folds its rows into ONE upper-triangle
    * array, the tree merge moves dims²-sized arrays only — no per-row
    * explode, no row-count-proportional shuffle, which is what makes
    * a 100 TB pass feasible. (The previous shape exploded every row
    * into its ~2k upper-triangle structs before the map-side combine
    * — integer-identical output, but allocation-bound at ~d²·|rows|
    * struct churn.) Products are ≤127² and cells sum |rows| of them:
    * BIGINT holds to ~5·10¹⁴ vectors.
    */
  def gramMatrix(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = quantized(embeddings)
      .select(col("q").cast("array<long>")).as[Seq[Long]]
    val (acc, nVecs) = q.rdd.treeAggregate(
      (null: Array[Long], 0L))(
      seqOp = { case ((a0, n), v) =>
        val d = v.length
        val a = if (a0 != null) a0 else new Array[Long](d * (d + 1) / 2)
        require(a.length == d * (d + 1) / 2,
          s"gramMatrix: mixed embedding widths ($d vs accumulated)")
        var i = 0; var k = 0
        while (i < d) {
          val vi = v(i)
          var j = i
          while (j < d) { a(k) += vi * v(j); k += 1; j += 1 }
          i += 1
        }
        (a, n + 1)
      },
      combOp = {
        case ((null, n1), (b, n2)) => (b, n1 + n2)
        case ((a, n1), (null, n2)) => (a, n1 + n2)
        case ((a, n1), (b, n2)) =>
          var k = 0
          while (k < a.length) { a(k) += b(k); k += 1 }
          (a, n1 + n2)
      })
    // invert the flat upper-triangle layout back to (i, j) cells —
    // dims²-sized, a local table
    val d = if (acc == null) 0
      else ((math.sqrt(8.0 * acc.length + 1) - 1) / 2).round.toInt
    val rows = for {
      i <- 0 until d
      j <- i until d
    } yield (i, j, acc(i * d - i * (i - 1) / 2 + (j - i)), nVecs)
    rows.toDF("i", "j", "gram", "n_vecs")
  }

  /** Dimension-truncation retrieval evaluation (the Matryoshka /
    * MRL question): recall@k of top-k under the FIRST d dimensions'
    * cosine against the full-dimension ground truth, for each probe
    * width — the measurement that decides how much of a 100 TB
    * vector corpus's storage and bandwidth a truncated index can
    * reclaim. Both sides are the shipped [[bruteForceTopK]]; each
    * truncation is a per-row slice (narrow), and each overlap is a
    * k-row join — the evaluation costs |dims| corpus scans, run on a
    * sampled slice at scale like every other eval key.
    */
  def dimTruncEval(embeddings: DataFrame, queryId: Long = 0, k: Int = 10,
                   dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val truth = graft.Checkpoints.tracked(
      bruteForceTopK(embeddings, queryId, k))
    dims.map { d =>
      val trunc = embeddings.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"), col("label"))
      bruteForceTopK(trunc, queryId, k)
        .join(truth, "vec_id")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(d).as("dims"), lit(k).as("k"), col("n_hit"))
    }.reduce(_ unionAll _)
  }

  /** Two deterministic power-iteration steps over the [[gramMatrix]]
    * fold — the distributed core of PCA / top-eigenvector extraction
    * (the direction v₂ converges toward is the corpus's principal
    * axis). The corpus is touched ONCE (the Gram fold, checkpointed);
    * everything after is dims²-row metadata: mirror the upper
    * triangle to the full symmetric matrix, v₁ = G·1, rescale, then
    * v₂ = G·v₁'.
    *
    * All-integer arithmetic end to end. The rescale between steps —
    * v₁' = trunc(v₁ / (max|v₁| DIV 1000 + 1)), one IEEE divide of two
    * exactly-representable integers (< 2⁵³), identical on every
    * engine — bounds |v₁'| ≤ 1000 so v₂ stays inside BIGINT at any
    * corpus size where Gram cells do (~10¹⁴ vectors), exactly the
    * float-normalization step of textbook power iteration replaced by
    * a deterministic integer one (normalization only rescales the
    * direction, so convergence is untouched).
    */
  def powerIter(embeddings: DataFrame): DataFrame = {
    val g = graft.Checkpoints.tracked(gramMatrix(embeddings)
      .select(col("i"), col("j"), col("gram")))
    val full = g.unionAll(g.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("gram")))
    val v1 = full.groupBy(col("i")).agg(sum(col("gram")).as("v1"))
    val scaled = v1
      .crossJoin(broadcast(v1.agg(max(abs(col("v1"))).as("mx"))))
      .select(col("i").as("j"),
        floor(col("v1").cast("double") /
          (expr("mx DIV 1000") + lit(1L)).cast("double"))
          .cast("long").as("v1s"))
    full.join(scaled, "j")
      .groupBy(col("i"))
      .agg(sum(col("gram") * col("v1s")).as("v2"))
      .join(v1, "i")
      .select(col("i"), col("v1"), col("v2"))
  }

  /** Project every vector's int8 code onto the power-iteration
    * eigenvector estimate — the 1-D PCA coordinate completing the
    * integer PCA story (gram fold → power iteration → projection).
    * The eigenvector is rescaled with [[powerIter]]'s own integer
    * rescale idiom (trunc(v₂ / (max|v₂| DIV 1000 + 1)), bounding
    * components at 1000) so the per-vector dot product stays inside
    * BIGINT at any corpus size, then folded into ONE dim-ordered
    * array row broadcast onto the corpus — the projection is a
    * zero-shuffle zip_with fold per row; the only shuffles are the
    * (already checkpointed) Gram pipeline's own.
    */
  def pcaProject(embeddings: DataFrame): DataFrame = {
    val v2 = powerIter(embeddings).select(col("i"), col("v2"))
    val v2s = v2
      .crossJoin(broadcast(v2.agg(max(abs(col("v2"))).as("mx2"))))
      .select(col("i"),
        floor(col("v2").cast("double") /
          (expr("mx2 DIV 1000") + lit(1L)).cast("double"))
          .cast("long").as("v2s"))
    val varr = v2s.agg(collect_list(struct(col("i"), col("v2s"))).as("c"))
      .select(transform(array_sort(col("c")), s => s("v2s")).as("varr"))
    quantized(embeddings)
      .crossJoin(broadcast(varr))
      .select(col("vec_id"), col("label"),
        aggregate(zip_with(col("q"), col("varr"),
          (x, v) => x.cast("long") * v), lit(0L), (a, x) => a + x)
          .as("proj"))
  }

  /** Embedding-health histogram: the log₂ distribution of SQUARED
    * int8-code norms — the QA pass that catches degenerate vectors
    * (zero or near-zero norms = dead embeddings; a spike at the top
    * bucket = clipping) before an index builds over them. Integer
    * end-to-end: Σq² per vector is exact, the bucket is its bit
    * length (no float log, no sqrt), the fold is map-side to ≤64
    * rows. Zero-norm vectors land in bucket 0 and are counted
    * separately — the actionable number.
    */
  def normHist(embeddings: DataFrame): DataFrame = {
    val sq = quantized(embeddings)
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (a, x) =>
          a + x.cast("long") * x.cast("long")).as("sq_norm"))
    sq.withColumn("b",
        when(col("sq_norm") === 0, lit(0))
          .otherwise(length(bin(col("sq_norm"))).cast("int")))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("sq_norm") === 0, 1L).otherwise(0L)).as("n_zero"),
        min(col("sq_norm")).as("min_sq"), max(col("sq_norm")).as("max_sq"))
  }

  /** Contrastive training-pair builder: each quality-gated document
    * (anchor, with its embedding as the positive) gets a HARD
    * negative — the nearest-bucket neighbor under the hyperplane LSH
    * code, i.e. a vector that LOOKS similar (same 8-plane sign
    * pattern) but is a different document. That is the pair-mining
    * step contrastive-training pipelines run at corpus scale; random
    * negatives are trivial, in-bucket negatives are the informative
    * ones. The negative pick is deterministic: the smallest OTHER
    * vec_id in the anchor's bucket (the two-smallest-per-bucket
    * trick — m1/m2 folds, each a keyed aggregation, so no per-bucket
    * row explosion and no window over a hot bucket; a singleton
    * bucket yields NULL, the "no hard negative found" signal).
    * Quality gate: n_chars >= 200 on the anchor document.
    */
  def contrastivePairs(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val coded = embeddings.select(col("vec_id"), col("label"),
      bucketCode(col("embedding").cast("array<double>"), 8, 64)
        .cast("int").as("bucket"))
    val m1 = coded.groupBy(col("bucket")).agg(min(col("vec_id")).as("m1"))
    val m2 = coded.join(m1, "bucket")
      .filter(col("vec_id") =!= col("m1"))
      .groupBy(col("bucket")).agg(min(col("vec_id")).as("m2"))
    val negs = m1.join(m2, Seq("bucket"), "left_outer")
    coded.join(negs, "bucket")
      .select(col("vec_id").as("anchor_id"), col("label"), col("bucket"),
        when(col("vec_id") === col("m1"), col("m2"))
          .otherwise(col("m1")).as("neg_id"))
      .join(docs.filter(col("n_chars") >= 200)
        .select(col("doc_id"), col("n_chars")),
        col("anchor_id") === col("doc_id"))
      .select(col("anchor_id"), col("label"), col("bucket"),
        col("neg_id"), col("n_chars"))
  }

  /** SQ8 retrieval: exact top-k over the QUANTIZED codes — the score
    * is an INTEGER dot product (bit-exact on any engine) rescaled by
    * the two per-vector scales. This is the memory-bandwidth path a
    * 100 TB vector corpus actually serves from (1 byte/dim instead of
    * 4), and the integer arithmetic keeps the ranking reproducible
    * where float dots could drift. One narrow pass + broadcast query
    * codes + TakeOrderedAndProject.
    */
  def int8TopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val qn = quantized(embeddings)
    val query = broadcast(qn.filter(col("vec_id") === queryId)
      .select(col("q").as("qq"), col("scale").as("qscale")))
    qn.filter(col("vec_id") =!= queryId)
      .crossJoin(query)
      // fused native integer dot product (one codegen loop, no
      // intermediate product array) — see functions.DotProductInt
      .withColumn("dot", graft.functions.DotProductInt(col("q"), col("qq")))
      .withColumn("score", col("dot").cast("double") * col("scale") * col("qscale"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("dot"))
  }

  /** Deterministic codebook TRAINING SAMPLE: an md5 bucket of vec_id
    * keeps `samplePct`% of the corpus (same split idiom as
    * `TextAnalysis.assignSplit` — a vector's membership never depends
    * on the other vectors), then a per-label row_number over
    * (bucket, vec_id) caps the survivors at `sampleCap` rows per
    * label. The cap is what makes codebook training 100 TB-safe: the
    * exact-percentile state per (subspace, label, dim) group is
    * bounded by the cap, not by the corpus — real PQ trains on a
    * sample, and a capped deterministic sample is one both engines
    * can replay bit-for-bit (no sampling RNG to disagree on).
    */
  private[pipeline] def pqTrainSample(e: DataFrame, samplePct: Int,
                                      sampleCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hb = conv(substring(md5(col("vec_id").cast("string").cast("binary")),
      1, 4), 16, 10).cast("long") % 100
    val w = Window.partitionBy(col("label"))
      .orderBy(col("hb"), col("vec_id"))
    e.withColumn("hb", hb)
      .filter(col("hb") < samplePct)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sampleCap)
      .select(col("label"), col("v"))
  }

  /** Per-(subspace, label, dim) median codebook, trained on
    * [[pqTrainSample]] — each entry is the median over at most
    * `sampleCap` sampled values, never the full corpus.
    */
  private[pipeline] def pqCodebook(e: DataFrame, sub: Int,
                                   samplePct: Int, sampleCap: Int): DataFrame =
    pqTrainSample(e, samplePct, sampleCap)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("s", (col("pos") / sub).cast("int"))
      .withColumn("d", (col("pos") % sub).cast("int"))
      .groupBy(col("s"), col("label").as("c"), col("d"))
      .agg(expr("percentile(x, 0.5)").as("m"))
      .groupBy(col("s"), col("c"))
      .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
      .select(col("s"), col("c"),
        transform(col("dm"), t => t.getField("m")).as("cv"))

  /** Product-quantization top-k: the third classic ANN index family
    * (alongside the LSH and IVF variants). The vector space splits
    * into `subspaces` slices; each slice gets a per-label MEDIAN
    * codebook entry (medians, not means: a median is order-
    * independent, so the codebook is bit-identical on any engine or
    * partitioning, where a float mean depends on summation order);
    * every vector encodes as one small int per subspace (nearest
    * codebook entry by squared L2, ties to the smaller label). A
    * query then scores the whole corpus from an ADC table — per
    * (subspace, codebook entry) partial dot products, FIXED-POINT
    * quantized (floor ×1e6 → long) so the per-vector score is an
    * integer SUM, exact under any aggregation order.
    *
    * Scale shape: the corpus first passes the regime gate
    * ([[graft.Regime]], [[gatedVectors]]). At or under
    * [[graft.Regime.budget]] vectors (every shipped scale: 500 at
    * sf0.001 and sf0.01, 2,000 at sf0.1) [[LocalVectors]] answers on
    * the driver with the same rows. Over it, the Spark side runs on
    * the relation the gate hands back (a table scan is read again, a
    * derived input persisted): the codebook trains on a capped
    * deterministic sample ([[pqTrainSample]] — bounded per-group
    * percentile state); the codebook and ADC table are tiny and
    * broadcast; encoding is one narrow pass over (vector × subspace);
    * scoring joins codes to the broadcast table and sums longs —
    * memory-bandwidth bound on 1 byte/subspace codes, which is the
    * entire point of PQ at a 100 TB corpus.
    */
  def pqTopK(embeddings: DataFrame, queryId: Long, k: Int,
             subspaces: Int = 8, dims: Int = 64,
             scale: Double = 1e6, samplePct: Int = 50,
             sampleCap: Int = 128): DataFrame =
    pqTopK(embeddings, queryId, k, subspaces, dims, scale, samplePct,
      sampleCap, Regime.budget)

  /** [[pqTopK]] at an explicit gate budget; tests pass 0 to force the
    * Spark side.
    */
  private[graft] def pqTopK(embeddings: DataFrame, queryId: Long, k: Int,
                            subspaces: Int, dims: Int, scale: Double,
                            samplePct: Int, sampleCap: Int,
                            budget: Long): DataFrame = {
    val pq = LocalVectors.Pq(subspaces, dims / subspaces, scale, samplePct, sampleCap)
    gatedVectors(embeddings, pq, budget)(_.pqTopK(queryId, k, pq)) { e =>
      pqAdcScores(e, e.filter(col("vec_id") =!= queryId), queryId, pq)
        .orderBy(col("score").desc, col("vec_id"))
        .limit(k)
        .select(col("vec_id"))
    }
  }

  /** The regime gate ([[graft.Regime]]) of the PQ family over
    * [[vecs]]`(embeddings)`: `local` answers from a [[LocalVectors]] of
    * the fetched rows when they fit, `inSpark` from the relation the
    * gate hands back when they do not. The driver takes only the
    * table's own types and, per row, what [[LocalVectors.apply]]
    * accepts (vectors of exactly `subspaces × sub` finite values);
    * other input, and a call it declines (None: where the Spark side
    * raises an error), plans the Spark side over the input.
    */
  private def gatedVectors(embeddings: DataFrame, pq: LocalVectors.Pq, budget: Long)
                          (local: LocalVectors => Option[Seq[Row]])
                          (inSpark: DataFrame => DataFrame): DataFrame = {
    val e = vecs(embeddings)
    val typed = e.schema("vec_id").dataType == LongType &&
      e.schema("label").dataType == IntegerType && pq.subspaces > 0 && pq.sub > 0
    if (!typed) inSpark(e)
    else Regime.fetchIfSmall(e, budget) match {
      case Right(rows) =>
        LocalVectors(rows, pq.subspaces * pq.sub).flatMap(local).fold(inSpark(e))(
          Regime.localRelation(e, e.select(col("vec_id")).schema, _))
      case Left(kept) => inSpark(kept)
    }
  }

  /** The PQ-ADC scoring core shared by [[pqTopK]] (whole corpus) and
    * [[ivfPqTopK]] (IVF-probed candidate slice): codebook trained on
    * the FULL corpus sample, candidates encoded to one small int per
    * subspace, query scored against the broadcast ADC table, integer
    * score per candidate — exact under any aggregation order.
    */
  private def pqAdcScores(e: DataFrame, cand: DataFrame, queryId: Long,
                          pq: LocalVectors.Pq): DataFrame = {
    import pq.{sampleCap, samplePct, scale, sub, subspaces}
    val cbv = pqCodebook(e, sub, samplePct, sampleCap)
    def slices(src: DataFrame) = src.select(col("vec_id"),
        explode(array((0 until subspaces).map(s =>
          struct(lit(s).as("s"),
            slice(col("v"), s * sub + 1, sub).as("sv"))): _*)).as("z"))
      .select(col("vec_id"), col("z.s").as("s"), col("z.sv").as("sv"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val codes = slices(cand).join(broadcast(cbv), Seq("s"))
      .withColumn("d2", sqDist(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("s"))
      .agg(max(struct((-col("d2")).as("nd"), (-col("c")).as("nc"))).as("best"))
      .select(col("vec_id"), col("s"), (-col("best.nc")).cast("int").as("code"))
    val adc = broadcast(slices(e.filter(col("vec_id") === queryId))
      .join(cbv, Seq("s"))
      .select(col("s").as("qs"), col("c"),
        floor(dot(col("sv"), col("cv")) * scale).cast("long").as("pdot")))
    codes.filter(col("vec_id") =!= queryId)
      .join(adc, col("s") === col("qs") && col("code") === col("c"))
      .groupBy(col("vec_id")).agg(sum(col("pdot")).as("score"))
  }

  /** IVF + PQ composed — the production ANN shape a 100 TB vector
    * deployment runs: the coarse quantizer prunes the corpus to the
    * `nprobe` nearest centroid lists (a broadcast semi-join, as in
    * [[ivfTopK]]); PQ-ADC scores ONLY the probed candidates (integer
    * scores, memory-bandwidth bound on 1-byte-per-subspace codes);
    * the top-`rerank` shortlist re-ranks by EXACT cosine over the
    * original floats. Every stage is bounded: probe list is
    * nprobe-sized, shortlist rerank-sized and broadcast back for the
    * float re-read — no all-pairs, no CartesianProduct against the
    * corpus (PlanSpec pins the shape).
    *
    * Scale shape: [[pqTopK]]'s gate. At or under
    * [[graft.Regime.budget]] vectors [[LocalVectors]] probes, encodes,
    * scores and reranks on the driver: `ann_ivf_pq_topk` at sf0.001
    * fires 1 job instead of 14, which (with the schema reuse in
    * [[graft.Tables]]) took the `analytics` workload from 2.88 to 4.50
    * `ops_per_s` on a 4-vCPU box. Over the budget the plan above runs
    * on the relation the gate hands back, every stage bounded as
    * described.
    */
  def ivfPqTopK(embeddings: DataFrame, queryId: Long, k: Int,
                nprobe: Int = 2, rerank: Int = 32,
                subspaces: Int = 8, dims: Int = 64,
                scale: Double = 1e6, samplePct: Int = 50,
                sampleCap: Int = 128): DataFrame =
    ivfPqTopK(embeddings, queryId, k, nprobe, rerank, subspaces, dims,
      scale, samplePct, sampleCap, Regime.budget)

  /** [[ivfPqTopK]] at an explicit gate budget; tests pass 0 to force
    * the Spark side.
    */
  private[graft] def ivfPqTopK(embeddings: DataFrame, queryId: Long, k: Int,
                               nprobe: Int, rerank: Int, subspaces: Int,
                               dims: Int, scale: Double, samplePct: Int,
                               sampleCap: Int, budget: Long): DataFrame = {
    val pq = LocalVectors.Pq(subspaces, dims / subspaces, scale, samplePct, sampleCap)
    gatedVectors(embeddings, pq, budget)(
      _.ivfPqTopK(queryId, k, nprobe, rerank, pq)) { e =>
      val q = queryVec(e, queryId)
      val probed = broadcast(centroids(e).crossJoin(q)
        .withColumn("cdist", cosine(col("cv"), col("qv")))
        .orderBy(col("cdist").desc, col("label"))
        .limit(nprobe)
        .select(col("label")))
      val cand = e.filter(col("vec_id") =!= queryId)
        .join(probed, Seq("label"), "left_semi")
      val shortlist = broadcast(
        pqAdcScores(e, cand, queryId, pq)
          .orderBy(col("score").desc, col("vec_id"))
          .limit(rerank)
          .select(col("vec_id")))
      e.join(shortlist, Seq("vec_id"), "left_semi")
        .crossJoin(q)
        .withColumn("cos", cosine(col("v"), col("qv")))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(k)
        .select(col("vec_id"))
    }
  }

  /** Recall@k of [[ivfPqTopK]] against the float brute-force truth at
    * fixed (nprobe, subspaces) — the acceptance number for the
    * composed index: how much answer quality the two approximations
    * (coarse pruning + quantized scoring) cost together.
    */
  def ivfPqRecallEval(embeddings: DataFrame, queryId: Long = 0,
                      k: Int = 10, nprobe: Int = 2,
                      rerank: Int = 32): DataFrame = {
    val truth = bruteForceTopK(embeddings, queryId, k)
    ivfPqTopK(embeddings, queryId, k, nprobe, rerank)
      .join(truth, "vec_id")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(nprobe).as("nprobe"), lit(k).as("k"), col("n_hit"),
        (col("n_hit").cast("double") / lit(k)).as("recall"))
  }

  /** Per-label mean vectors — the "trained" coarse quantizer shared by
    * the IVF probe and the k-means assignment step.
    */
  private def centroids(e: DataFrame): DataFrame = e
    .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
    .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("m"))
    .groupBy(col("label"))
    .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
    .select(col("label"), transform(col("pm"), s => s.getField("m")).as("cv"))

  /** One Lloyd assignment step over the label-seeded centroids: each
    * vector moves to its nearest centroid by cosine (ties to the
    * smaller label) — the re-clustering pass an IVF index runs to
    * rebalance its partitions. The centroid table is broadcast and the
    * per-vector argmax is a map-side-combined max over (cos, -label)
    * structs, so the shuffle carries ONE row per vector regardless of
    * how many centroids exist. Integer outputs.
    */
  def kmeansAssign(embeddings: DataFrame): DataFrame = {
    val e = vecs(embeddings)
    val cent = broadcast(centroids(e)
      .select(col("label").as("c_label"), col("cv")))
    e.crossJoin(cent)
      .withColumn("cos", cosine(col("v"), col("cv")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("cos"), (-col("c_label")).as("neg"))).as("best"))
      .select(col("vec_id"), col("label"),
        (-col("best.neg")).cast("int").as("assigned"))
      .withColumn("stable", col("label") === col("assigned"))
  }

  /** Embedding-space outliers: the k vectors FARTHEST (lowest cosine)
    * from their assigned centroid — the quality screen that catches
    * mis-embedded or out-of-distribution items before they poison a
    * training mix or an ANN index. Composition of [[kmeansAssign]]
    * with one broadcast centroid lookup and a bottom-k heap
    * (TakeOrderedAndProject — never a global sort); ids-only output,
    * the cosine is an ordering key, same determinism posture as the
    * top-k family.
    */
  def farFromCentroid(embeddings: DataFrame, k: Int = 20): DataFrame = {
    val e = vecs(embeddings)
    val cent = broadcast(centroids(e)
      .select(col("label").as("c_label"), col("cv")))
    val assign = kmeansAssign(embeddings).select(col("vec_id"), col("assigned"))
    e.join(assign, "vec_id")
      .join(cent, col("assigned") === col("c_label"))
      .withColumn("cos", cosine(col("v"), col("cv")))
      .orderBy(col("cos").asc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("assigned"))
  }

  /** The Lloyd UPDATE step completing the k-means iteration
    * [[kmeansAssign]] starts: recompute each cluster's centroid from
    * the vectors just assigned to it. Output is one row per
    * (cluster, dimension) with the member count and the new mean —
    * the shape the next assignment step's centroid table loads from.
    *
    * Scale shape: the assignment shuffles one row per vector (see
    * [[kmeansAssign]]); the join back to the vectors is keyed on
    * vec_id; the dimension fold then partial-aggregates map-side, so
    * the final shuffle carries at most clusters × dims rows per map
    * partition — bounded at any corpus size. This is exactly how a
    * distributed k-means trainer iterates at 100 TB: no driver-side
    * centroid math, each round is two keyed shuffles.
    */
  def kmeansUpdate(embeddings: DataFrame): DataFrame = {
    val assign = kmeansAssign(embeddings).select(col("vec_id"), col("assigned"))
    vecs(embeddings).join(assign, "vec_id")
      .select(col("assigned"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("assigned"), col("pos"))
      .agg(count(lit(1)).as("n"), avg(col("x")).as("m"))
  }

  /** Lloyd k-means TRAINING loop — the second member of the
    * vocabulary/model-training operator class [[graft.pipeline
    * .TextAnalysis.bpeTrain]] opened: `rounds` full assign+update
    * iterations from the label-seeded centroids, in EXACT fixed-point
    * arithmetic so any two engines (and any two partitionings) agree
    * bit-for-bit where float Lloyd would hand the argmax to summation
    * order. Vectors and centroids quantize to integer micro-units
    * (xe6 = ⌊x·10⁶⌋); the per-vector nearest-centroid choice orders
    * by the integer witness sign(dot)·(dot² div ‖c‖²) — a monotone
    * transform of cosine for fixed ‖v‖ (the vector norm cancels
    * within a per-vector argmax), bounded by ‖v‖² ≤ 64·(3·10⁵)² via
    * Cauchy–Schwarz so the divided key fits a long (dot² carried in
    * DECIMAL(38,0) internally, per the 64-bit output rule); ties
    * break to the smaller centroid id. Updates floor-divide exact
    * integer sums (the explicit positive-mod form, so truncating and
    * flooring engines agree on negative sums). Empty clusters die
    * (standard Lloyd), zero-norm centroids are filtered before
    * scoring on both engines.
    *
    * Scale shape: per round the centroid table (k·dims rows → k
    * array rows) BROADCASTS; the dot product is a per-row integer
    * fold (zip_with + aggregate, no join); the argmax groupBy
    * map-side-combines to ONE row per vector; the update is one
    * keyed (cluster, dim) fold — two narrow shuffles per round, no
    * driver-side centroid math, centroids and assignments each a
    * [[graft.Checkpoints.Generation]] (one checkpoint per round, the
    * superseded one released). Output: one row per surviving
    * cluster (cluster, n_members, l1_e6 — the exact integer L1 norm
    * of the trained centroid, the engine-identical witness).
    */
  def kmeansTrain(embeddings: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1,
      s"kmeansTrain needs at least one assign+update round, got $rounds")
    def dotL(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (p, q) => p * q), lit(0L), (acc, v) => acc + v)
    // exact floor division for possibly-negative integer sums: strip
    // the positive remainder first so `div` (truncating) == floor —
    // identical on a flooring engine, all-integer, no 2^53 ceiling
    val floorDivSql = "(s - ((s % n + n) % n)) div n"
    val ve = vecs(embeddings).select(col("vec_id"),
      transform(col("v"), x => floor(x * 1e6).cast("long")).as("ve6"))
    val ev = vecs(embeddings).select(col("vec_id"), col("label"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x") * 1e6).cast("long").as("xe6"))
    def assemble(rows: DataFrame): DataFrame = rows
      .groupBy(col("c"))
      .agg(array_sort(collect_list(struct(col("pos"), col("me6")))).as("pm"))
      .select(col("c"),
        transform(col("pm"), s => s.getField("me6")).as("ce6"))
      .withColumn("nc", dotL(col("ce6"), col("ce6")))
      .filter(col("nc") > 0)
    val cent = graft.Checkpoints.generation(assemble(
      ev.groupBy(col("label").as("c"), col("pos"))
        .agg(sum(col("xe6")).as("s"), count(lit(1)).as("n"))
        .select(col("c"), col("pos"), expr(floorDivSql).as("me6"))))
    val assign = graft.Checkpoints.seeded()
    for (_ <- 1 to rounds) {
      // the assignment checkpoints too: the round's scoring reads the
      // PREVIOUS centroid generation, which the centroid advance below
      // releases — a lazy assignment would reference freed blocks
      assign.advance(
        ve.crossJoin(broadcast(cent.df))
          .withColumn("dot", dotL(col("ve6"), col("ce6")))
          .withColumn("q", expr(
            "(cast(dot as decimal(38,0)) * dot) div nc"))
          .withColumn("key",
            when(col("dot") >= 0, col("q")).otherwise(-col("q")))
          .groupBy(col("vec_id"))
          .agg(max(struct(col("key"), (-col("c")).as("negc"))).as("b"))
          .select(col("vec_id"), (-col("b.negc")).as("c")))
      cent.advance(assemble(
        ev.join(assign.df, "vec_id")
          .groupBy(col("c"), col("pos"))
          .agg(sum(col("xe6")).as("s"), count(lit(1)).as("n"))
          .select(col("c"), col("pos"), expr(floorDivSql).as("me6"))))
    }
    assign.df.groupBy(col("c")).agg(count(lit(1)).as("n_members"))
      .join(cent.df.select(col("c"),
        aggregate(col("ce6"), lit(0L), (acc, v) => acc + abs(v)).as("l1_e6")),
        Seq("c"))
      .select(col("c").cast("long").as("cluster"),
        col("n_members"), col("l1_e6"))
  }

  /** IVF-style: centroids = per-label mean vectors ("trained"
    * partition assignment), probe the `nprobe` centroids nearest the
    * query, exact top-k within the probed partitions.
    */
  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int,
              nprobe: Int = 2): DataFrame = {
    val e = vecs(embeddings)
    val centroidTable = centroids(e)
    val q = queryVec(vecs(embeddings), queryId)
    val probed = broadcast(centroidTable.crossJoin(q)
      .withColumn("cdist", cosine(col("cv"), col("qv")))
      .orderBy(col("cdist").desc, col("label"))
      .limit(nprobe)
      .select(col("label")))
    e.filter(col("vec_id") =!= queryId)
      .join(probed, Seq("label"), "left_semi")
      .crossJoin(q)
      .withColumn("cos", cosine(col("v"), col("qv")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"))
  }
}
