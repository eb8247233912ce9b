package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.IsNotNull
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Guards the plans we tuned for: pushdown reaches the scans, small
  * dims broadcast, top-k never globally sorts, BGP patterns read the
  * cached triple relation. A regression here is a scale bug even when
  * results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = SharedSpark.sfDir

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Every scan of the cached triple store in `df`'s plan filters on a
    * constant predicate, e.g. `[isnotnull(p#..), (p#.. = :hasNation)]`:
    * the store is clustered by `p`, so the cached batches' min/max
    * stats skip every batch outside it (RdfSpec pins the skip). A
    * store scan with no `p` predicate reads every triple.
    */
  private def assertStoreScansPruned(df: DataFrame): Unit = {
    val store = graft.rdf.TripleStore.triples(spark, dir)
      .queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder }.get
    val scans = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(
      df.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec if s.relation.cacheBuilder eq store => s
    }
    assert(scans.nonEmpty, "the query must scan the cached store")
    scans.foreach { s =>
      assert(s.predicates.exists(e => !e.isInstanceOf[IsNotNull] &&
        e.references.map(_.name).toSet == Set("p")),
        s"store scan without a constant-predicate filter: ${s.simpleString(400)}")
    }
  }

  test("q3_join_topk: pushdown + broadcast dims + TakeOrderedAndProject") {
    val p = plan("q3_join_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("BroadcastHashJoin"), "filtered dims must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter must reach the scan")
  }

  test("q1_agg: filter and pruning reach the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "date filter must push down")
    assert(!p.contains("l_partkey"), "unused columns must be pruned")
  }

  test("sparql_bgp_chain: patterns prune the predicate-partitioned store") {
    assertStoreScansPruned(SparkEntry.queries("sparql_bgp_chain")(spark, dir))
  }

  test("sparql_bgp_star: star patterns prune the partitioned store") {
    assertStoreScansPruned(SparkEntry.queries("sparql_bgp_star")(spark, dir))
  }

  test("sparql_bgp_star_bucketed: patterns scan the bucketed table") {
    // the same star BGP as sparql_bgp_star, over the same store
    assert(!plan("sparql_bgp_star_bucketed").contains("CartesianProduct"),
      "the star patterns must join on the subject")
  }

  test("dedup_ngram_jaccard_gated: band candidates, no quadratic prefix join") {
    val p = plan("dedup_ngram_jaccard_gated")
    assert(!p.contains("row_number"),
      "the over-budget regime must not build the rarity-ranked prefix index")
    assert(p.contains("array_min"),
      "candidates must come from the minhash signature bands")
  }

  test("ann_lsh_topk: broadcast probe join + top-k without global sort") {
    val p = plan("ann_lsh_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 37-bucket probe set must broadcast")
  }

  test("dedup_ngram_jaccard: df cap anti-joins; prefix rank is per-doc") {
    val p = plan("dedup_ngram_jaccard")
    assert(p.contains("LeftAnti"), "hot-shingle cap must be an anti-join")
    // the prefix filter's row_number is the only window, partitioned
    // by doc_id — never a single-partition global sort
    assert(!p.contains("Window [") || !p.contains("partitionBy=[]"),
      "prefix rank must partition by doc")
  }

  test("ann_int8_topk: native dot_int kernel scores, no HOF lambdas") {
    val p = plan("ann_int8_topk")
    assert(p.contains("dot_int"), "SQ8 scoring must use the fused kernel")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("ann_pq_topk: codebook trains on the capped md5-bucket sample") {
    val p = plan("ann_pq_topk")
    // sample filter evaluates directly on the scan, before any agg
    // (md5 routes through md5_fast since r19 — match the prefix)
    assert(p.contains("conv(substring(md5"),
      "md5-bucket sample filter must gate the codebook input")
    // the per-label cap applies map-side (Partial WindowGroupLimit),
    // so percentile state is bounded by the cap, not the corpus
    assert(p.contains("WindowGroupLimit"),
      "per-label cap must bound the training sample before the shuffle")
    assert(p.contains("partial_percentile"),
      "codebook medians must partial-aggregate")
  }

  test("ann_ivfpq_probe_sweep: every probe branch keeps the composed shape") {
    // three stacked ivfPqTopK branches — each must preserve the
    // composed index's plan: semi-join pruning, no corpus cross-join
    // (the query-vector crossJoin is 1-row broadcast, never Cartesian)
    val p = plan("ann_ivfpq_probe_sweep")
    assert(!p.contains("CartesianProduct"),
      "no probe point may fall to a Cartesian corpus product")
    assert(p.contains("LeftSemi"),
      "probed lists must prune via semi-join in every branch")
    // the shared brute-force truth is checkpointed ONCE (r17 verdict):
    // the branches join a materialized ExistingRDD, and the truth's
    // corpus-scoring subtree (global cos sort) is absent from the lazy
    // plan instead of being duplicated into every probe branch
    assert(p.contains("ExistingRDD"),
      "the shared truth must be one materialized checkpoint")
  }

  test("ann_ivf_probe_sweep: shared truth materialized once across branches") {
    val p = plan("ann_ivf_probe_sweep")
    assert(p.contains("ExistingRDD"),
      "the shared truth must be one materialized checkpoint")
    assert(!p.contains("CartesianProduct"),
      "no probe point may fall to a Cartesian corpus product")
  }

  test("data_curriculum: cuts come from the capped sample, not a " +
       "full-corpus percentile") {
    val p = plan("data_curriculum")
    assert(!p.contains("percentile"),
      "no exact-percentile buffer over any input — cuts are rank-picked")
    // (md5 routes through md5_fast since r19 — match the prefix)
    assert(p.contains("conv(substring(md5"),
      "md5-bucket sample filter must gate the cut input")
    assert(p.contains("WindowGroupLimit"),
      "per-shard cap must bound the sample before the rank")
  }

  test("ann_ivf_topk: probed labels broadcast into a semi-join") {
    val p = plan("ann_ivf_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("LeftSemi"), "probed labels must prune via semi-join")
  }

  test("stats phase 2: OPTIONAL small side broadcasts only under small planted stats") {
    // with auto-broadcast disabled, ONLY the compiler's stats-driven
    // hint can produce a BroadcastHashJoin — differential: the same
    // query broadcasts its OPTIONAL side under a small-side profile
    // and shuffles under a huge-side profile
    import spark.implicits._
    import graft.rdf.TripleStats
    import graft.rdf.TripleStats.PredStat
    val base = Seq(
      ("p:1", ":hot", "x:1", Option.empty[Double], true, Option.empty[String]),
      ("p:1", ":rare", "y:1", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    def planWith(rareN: Long): String = {
      val t = TripleStats.registerPrecomputed(base.select("*"),
        Map(":hot" -> PredStat(10000000L, 5000000L, 5000000L),
          ":rare" -> PredStat(rareN, rareN, rareN)))
      Graft.sparql(t,
        "SELECT ?s ?a ?b WHERE { ?s :hot ?a OPTIONAL { ?s :rare ?b } }")
        .queryExecution.executedPlan.toString
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = planWith(100L)
      val huge = planWith(50000000L)
      assert(small.contains("BroadcastHashJoin"),
        "a 100-row-estimate OPTIONAL side must broadcast-hint")
      assert(!huge.contains("BroadcastHashJoin"),
        "a 50M-row-estimate OPTIONAL side must not be forced broadcast")
      // the EXISTS semi-join side takes the same hint
      def existsPlan(rareN: Long): String = {
        val t = TripleStats.registerPrecomputed(base.select("*"),
          Map(":hot" -> PredStat(10000000L, 5000000L, 5000000L),
            ":rare" -> PredStat(rareN, rareN, rareN)))
        Graft.sparql(t,
          "SELECT ?s WHERE { ?s :hot ?a FILTER EXISTS { ?s :rare ?b } }")
          .queryExecution.executedPlan.toString
      }
      assert(existsPlan(100L).contains("BroadcastHashJoin"),
        "a small-estimate EXISTS body must broadcast into the semi-join")
      assert(!existsPlan(50000000L).contains("BroadcastHashJoin"),
        "a huge-estimate EXISTS body must not be forced broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ann_ivf_pq_topk: centroid semi-join prunes; shortlist bounded; no cartesian") {
    val p = plan("ann_ivf_pq_topk")
    assert(p.contains("LeftSemi"),
      "probed labels and the rerank shortlist must prune via semi-joins")
    assert(!p.contains("CartesianProduct"),
      "no unbounded cartesian anywhere in the composed index")
    assert(p.contains("TakeOrderedAndProject"),
      "ADC shortlist and final top-k must never globally sort")
    // the PQ half still trains on the capped sample (shared codepath)
    assert(p.contains("WindowGroupLimit"),
      "codebook training sample must stay capped per label")
  }

  test("rdf_describe: both lookup arms filter the cached triple relation") {
    val p = plan("rdf_describe")
    assert(p.contains("InMemoryTableScan"), "describe must read the persisted store")
  }

  test("sparql_describe_where: the priced TARGET set broadcasts, not the store") {
    val p = plan("sparql_describe_where")
    // the checkpointed target set rides a broadcast exchange into both
    // arms; BuildLeft on the store side was the sf1 349 s scale bug
    assert(p.contains("BroadcastHashJoin"), "target set must broadcast")
    assert(!p.contains("BuildLeft"),
      "the store side must never be the broadcast build side")
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD") ||
      p.contains("checkpoint"), "targets must come from the one checkpoint")
  }

  test("pipeline_prepare: filters evaluate on the scan, keeps semi-join") {
    val p = plan("pipeline_prepare")
    assert(p.contains("LeftSemi"), "keep-list must apply as a semi-join")
    assert(!p.contains("SortMergeJoin"),
      "doc-id keep joins should broadcast at this scale")
  }

  test("ann_knn_join: broadcast queries + rank limited before the shuffle") {
    val p = plan("ann_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query subset must broadcast against the single corpus scan")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must prune before the window shuffle")
  }

  test("ann_knn_join above the broadcast gate: LSH bands, no nested loop") {
    val emb = Tables.embeddings(spark, dir)
    val df = graft.pipeline.Similarity.knnJoin(emb, k = 3, querySlice = 50,
      maxBroadcastQueries = 0L)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "above the gate the query side must not broadcast into a nested loop")
    assert(p.contains("WindowGroupLimit"),
      "fallback keeps the per-query top-k prune")
    // recall floor: a query vector always collides with its own bucket,
    // so every query must surface candidates (its band probes include
    // the unmasked code)
    import spark.implicits._
    val nQueries = emb.filter(col("vec_id") % 50 === 0).count()
    val got = df.select("query_id").distinct().as[Long].collect()
    assert(got.length == nQueries,
      s"every query should find band candidates, got ${got.length}/$nQueries")
  }

  test("text_contamination: benchmark grams broadcast into a semi-join") {
    val p = plan("text_contamination")
    assert(p.contains("LeftSemi"), "benchmark screen must be a semi-join")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark gram set must broadcast — the corpus side never shuffles grams")
  }

  test("text_repetition and data_split stay narrow single passes") {
    for (name <- Seq("text_repetition", "data_split")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name must not shuffle")
    }
  }

  test("text_vocab_topk: partial agg before the shuffle, top-k without sort") {
    val p = plan("text_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "token counts must map-side combine before the shuffle")
  }

  test("events_latest_state: map-side max_by combine, no window, one exchange") {
    val p = plan("events_latest_state")
    assert(p.contains("partial_max_by"),
      "compaction must combine map-side — one candidate per (user, partition)")
    assert(!p.contains("Window"), "compaction must not rank a window")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "exactly one shuffle, keyed by user")
  }

  test("sketch_hll_distinct: registers fold map-side; no distinct, no gram shuffle") {
    val p = plan("sketch_hll_distinct")
    assert(p.contains("partial_max"),
      "register maxima must combine map-side")
    // the only shuffles are the 256-key register exchange + the final
    // single-row fold — never the exploded gram stream itself
    assert("Exchange hashpartitioning\\(r#".r.findAllIn(p).size == 1 &&
      p.contains("Exchange SinglePartition"),
      "shuffles must be register-keyed + single-row fold only")
    assert(!p.contains("Expand") && !p.toLowerCase.contains("distinct"),
      "the sketch must not deduplicate grams — max folds duplicates")
  }

  test("text_bm25_topk: stats broadcast, query filter before the shuffle, top-k") {
    val p = plan("text_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("BroadcastHashJoin"), "per-term df must broadcast")
    // the token stream narrows to the query vocabulary before any
    // aggregation shuffle
    assert(p.contains("Filter token") && p.contains(" IN (spark,merge,window)"),
      "the query-vocabulary filter must precede the tf aggregation")
  }

  test("data_shard_assign and text_bpe_pairs plan shapes") {
    val p = plan("data_shard_assign")
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(p).size == 1,
      "the only shuffle is the per-shard repartition")
    assert(!p.contains("rangepartitioning"),
      "shard positions must never need a global sort")
    val q = plan("text_bpe_pairs")
    assert(q.contains("TakeOrderedAndProject") && q.contains("partial_count"),
      "pair counts must map-side combine and top-k without a global sort")
    assert(!q.contains("Join"), "pairs come from a per-row zip, not a self-join")
  }

  test("text_contamination_bloom: the screen is a joinless codegen filter") {
    val p = plan("text_contamination_bloom")
    assert(p.contains("bloom_contains"),
      "the native expression must survive into the physical plan")
    assert(!p.contains("Join"),
      "the Bloom screen must not join — the filter ships in the task binary")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "only the per-doc count shuffles")
  }

  test("ann_lsh_topk: bucket hashing is the fused native expression") {
    val p = plan("ann_lsh_topk")
    assert(p.contains("hyperplane_code"),
      "the native LSH kernel must survive into the physical plan")
    assert(!p.contains("zip_with"),
      "no composable HOF tree in the hot hashing path")
  }

  test("data_sample_stratified: rates broadcast; emb_quantize stays narrow") {
    val p = plan("data_sample_stratified")
    assert(p.contains("BroadcastHashJoin"), "the rate table must broadcast")
    assert(!p.contains("SortMergeJoin"), "sampling must not shuffle the corpus")
    val q = plan("emb_quantize")
    // the r19 degenerate-scan spread round-robins the single-row-group
    // embeddings file across the cores; the pin's INTENT — no keyed
    // shuffle, quantization stays a per-row pass — is unchanged
    assert(!q.contains("Exchange hashpartitioning"),
      "quantization must be one narrow pass (no keyed shuffle)")
  }

  test("sparql_subquery: inner aggregate joins without a cartesian") {
    val p = plan("sparql_subquery")
    assert(!p.contains("CartesianProduct"),
      "subquery must equi-join the outer pattern on the shared var")
  }

  test("ann_knn_classify: broadcast queries; vote window partitions by query") {
    val p = plan("ann_knn_classify")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query subset must broadcast")
    assert(!p.contains("partitionBy=[]"), "no global single-partition window")
  }

  test("emb_kmeans_assign: centroids broadcast; argmax combines map-side") {
    val p = plan("emb_kmeans_assign")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroid table must broadcast")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      "per-vector argmax must partial-aggregate before the shuffle")
    assert(!p.contains("Window"), "assignment must not use a window")
  }

  test("text_gopher_quality and text_ngram_novelty plan shapes") {
    // gopher: one narrow pass, no shuffle at all
    val g = SparkEntry.queries("text_gopher_quality")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!g.contains("Exchange"), "gopher rules must stay narrow")
    // novelty: the df aggregation combines map-side
    val n = plan("text_ngram_novelty")
    assert(n.contains("partial_count") || n.contains("HashAggregate"),
      "gram df must partial-aggregate")
  }

  test("bottom-k sample heaps per task; dup spans join keyed; hist folds map-side") {
    val p = plan("data_sample_bottomk")
    assert(p.contains("TakeOrderedAndProject"),
      "bottom-k must heap per partition, never globally sort")
    val q = plan("dedup_dup_spans")
    assert(!q.contains("CartesianProduct") &&
      !q.contains("BroadcastNestedLoopJoin"),
      "window-hash join must be key-equality, never a product")
    assert(q.contains("hx"), "the join key must be the window hash")
    val h = plan("sketch_quantile_hist")
    // the corpus folds into ≤64 bucket rows BEFORE any exchange
    assert(h.contains("partial_count") || h.contains("partial count")
      || h.contains("HashAggregate"),
      "histogram must combine map-side")
    assert(!h.toLowerCase.contains("cartesian"))
  }

  test("rdf_ntriples_roundtrip: shape filters stay off re-derived chains") {
    val p = plan("rdf_ntriples_roundtrip")
    assert(p.contains("rand("),
      "the parse barrier column must be present — without it predicate " +
        "pushdown re-derives the term chains inside every filter conjunct")
    // no filter conjunct may re-derive rest/obj (ltrim-of-substr is the
    // signature of the pushed chain); the derivations belong in Projects,
    // where codegen subexpression elimination evaluates them once
    assert(!p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("ltrim(substr(")),
      "a shape filter re-derives the term chain instead of reading a " +
        "materialized column")
  }

  test("dedup_paragraphs: keeper pick is a keyed min, never a window") {
    val p = plan("dedup_paragraphs")
    assert(!p.contains("Window"),
      "first-occurrence keeper must be a min aggregate, not a window")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "keeper join must be key-equality on the chunk hash")
    assert(p.contains("hx"), "the join key must be the chunk hash")
  }

  test("events_asof_join: one user-keyed exchange, no join") {
    val p = plan("events_asof_join")
    assert(!p.contains("Join"),
      "the as-of must be the union-window form, never an actual join")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "both slices must ride ONE user-keyed shuffle")
    assert(p.contains("In(event_type"),
      "the two-type slice filter must push down to the scan")
  }

  test("events_funnel: every stage shuffles only its own slice") {
    val p = plan("events_funnel")
    // stage filters must reach the parquet scan, so each aggregation
    // reads one event-type slice, not the whole log
    assert(p.contains("EqualTo(event_type,view)"), "stage filter must push down")
    assert(p.contains("EqualTo(event_type,click)"), "stage filter must push down")
  }

  test("rdf_store_add: the overlap anti-slice aggregates, never cartesians") {
    val p = plan("rdf_store_add")
    assert(!p.contains("CartesianProduct"), "set-union must not cartesian")
  }

  test("dedup_embedding_cosine: the cell self-join is keyed on label") {
    val p = plan("dedup_embedding_cosine")
    assert(!p.contains("CartesianProduct"),
      "the similarity join must block by cell, never cross")
  }

  test("events_enrich_skewsafe joins on the salt; data_mix broadcasts rates") {
    val p = plan("events_enrich_skewsafe")
    assert(p.contains("__salt"), "the join must be keyed by (user_id, salt)")
    val m = plan("data_mix")
    assert(m.contains("BroadcastHashJoin") || m.contains("BroadcastExchange"),
      "the (source, rate) table must broadcast onto the scan")
  }

  test("events_interval_join: keyed join with pushed side filters, no product") {
    val p = plan("events_interval_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the interval join must be keyed on user_id with the time range " +
        "as a join condition, never a product")
    assert(p.contains("EqualTo(event_type,view)") &&
      p.contains("EqualTo(event_type,purchase)"),
      "each side's type filter must push down to its scan")
  }

  test("q_rollup_pricing: grouping sets expand before ONE shuffle") {
    val p = plan("q_rollup_pricing")
    assert(p.contains("Expand"), "rollup must expand grouping sets map-side")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      "all levels must partial-aggregate before the exchange")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "one shuffle must carry every rollup level")
  }

  test("graph_common_neighbors: anti-join prunes edges; top-k heaps per task") {
    val p = plan("graph_common_neighbors")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("LeftAnti"),
      "known edges must be pruned with an anti-join before the top-k")
    assert(!p.contains("CartesianProduct"),
      "the wedge join must be keyed on the shared middle vertex")
  }

  test("ann_recall_eval: both top-k sides heap per task") {
    val p = plan("ann_recall_eval")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("sketch_hll_overlap: one corpus pass feeds all four branches") {
    val p = plan("sketch_hll_overlap")
    // the register relation is checkpointed at construction — every
    // branch (per-source fold, source list, both pair-join sides)
    // must read the materialized S×256 rows, never the corpus again
    assert(!p.contains("FileScan"),
      "a branch re-reads the corpus instead of the materialized registers")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      "branches must scan the checkpointed register relation")
    assert(!p.contains("CartesianProduct"),
      "only the source-pair frame (metadata-size) may nested-loop")
  }

  test("dedup_blocking_recall: overlap is a semi-join of the pair sets") {
    val p = plan("dedup_blocking_recall")
    assert(p.contains("LeftSemi"),
      "matched pairs must come from a semi-join, never a rebuild")
  }

  test("q_window_share: window partitions by order key, pruned scan") {
    val p = plan("q_window_share")
    assert(!p.contains("partitionBy=[]"),
      "the ratio-to-group window must partition by l_orderkey")
    assert(!p.contains("l_shipdate"),
      "unused columns must be pruned from the scan")
  }

  test("Results.toCsv adds no shuffle of its own") {
    val df = spark.range(5).selectExpr("cast(id as string) AS a", "'x,y' AS b")
    val p = graft.sparql.Results.toCsv(df)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      "CSV serialization must stay a narrow per-row projection")
  }

  test("text_window_cooc: per-row expansion, no join, heap top-k") {
    val p = plan("text_window_cooc")
    assert(!p.contains("Join"),
      "the skip-gram expansion must be per-row zips, never a self-join")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("pipeline_tokens_build: composed plan keeps rates broadcast, no product") {
    val p = plan("pipeline_tokens_build")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the token-budget rates must broadcast onto the survivor scan")
    assert(!p.contains("CartesianProduct"),
      "nothing in the composed build may cross-join corpus-sized frames")
  }

  test("data_mix_tokens: rates broadcast onto the scan") {
    val p = plan("data_mix_tokens")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the (source, rate) table must broadcast")
  }

  test("events_hll_dau: register fold combines map-side, no distinct") {
    val p = plan("events_hll_dau")
    assert(p.contains("partial_max"),
      "the day-keyed register fold must combine before its shuffle")
    assert(!p.toLowerCase.contains("distinct"),
      "approximate DAU must never compute the exact user distinct")
  }

  test("emb_kmeans_update: dimension fold combines map-side, no window") {
    val p = plan("emb_kmeans_update")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "the (cluster, dim) fold must partial-aggregate before its shuffle")
    assert(!p.contains("Window"),
      "the update step must not rank anything — argmax stays an aggregate")
  }

  test("events_scd2: one user-keyed exchange, no join") {
    val p = plan("events_scd2")
    assert(!p.contains("Join"), "scd2 is one window pass, never a join")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "version + lead must ride ONE user-keyed shuffle")
  }

  test("events_gap_fill: obs materialized once; grid join keyed") {
    // r19: the (user, hour) max_by compaction runs ONCE into a tracked
    // checkpoint (it feeds both the grid-bounds fold and the fill
    // join — previously two fact-scale scans + aggregations), so the
    // final plan reads the materialized relation instead of showing
    // the max_by; the compaction itself is pinned by the oracle hash
    val p = plan("events_gap_fill")
    assert(p.contains("ExistingRDD"),
      "the (user, hour) observation aggregate must be materialized once")
    assert(!p.contains("CartesianProduct"), "grid join must stay keyed")
    assert(p.contains("Generate explode"),
      "the hourly grid must come from a sequence explode, not a join")
  }

  test("emb_gram_matrix: treeAggregate fold — the SQL plan sees only the dims² result") {
    // the fold is a per-partition primitive-array treeAggregate (the
    // Bloom-build idiom): no per-row struct explode, no SQL-side
    // exchange — the result lands as a local dims²-row table
    val p = plan("emb_gram_matrix")
    assert(p.contains("LocalTableScan"),
      "the folded Gram must be a local dims² table")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      "the Gram fold must not join or shuffle on the SQL side")
  }

  test("graph_hits: message passing stays keyed; top-k heaps per task") {
    val p = plan("graph_hits")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(!p.contains("CartesianProduct"),
      "score propagation must join on vertex keys")
  }

  test("mm_phash_dedup: shared signature relation; band join keyed") {
    val p = plan("mm_phash_dedup")
    assert(!p.contains("CartesianProduct"), "band join must stay keyed")
    assert(p.contains("InMemoryTableScan"),
      "bands and both verify sides must reuse the persisted signatures")
  }

  test("q_pivot_status: explicit values skip discovery; partial agg first") {
    val p = plan("q_pivot_status")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      "pivot cells must partial-aggregate before the exchange")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "pivot is the two-level aggregate, nothing more")
    assert(!p.contains("Sort "), "no global sort in a pivot")
  }

  test("q5: star join broadcasts the nation lookup, no product") {
    val p = plan("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the region-folded nation lookup must broadcast")
    assert(!p.contains("CartesianProduct"), "all five joins are keyed")
    assert(p.contains("partial_sum"),
      "revenue must partial-aggregate before the group shuffle")
  }

  test("events_transition_matrix: one user shuffle, map-side bigram fold") {
    val p = plan("events_transition_matrix")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "the lead() pass rides ONE user-keyed shuffle")
    assert(p.contains("partial_count"),
      "bigram counts must combine map-side before the matrix shuffle")
    assert(!p.contains("Join"), "successor pairing is a window, never a join")
  }

  test("rdf_reify: narrow explode, no shuffle past the store read") {
    // judge only the plan ABOVE the cached store (the InMemoryRelation
    // section replays the store-build plan, which legitimately shuffles)
    val p = plan("rdf_reify").split("InMemoryRelation")(0)
    assert(p.contains("Generate explode"),
      "each statement expands in-task via explode")
    assert(!p.contains("Join") && !p.contains("Exchange hashpartitioning"),
      "reification is a per-row pass — no join, no added shuffle")
  }

  test("q19: pre-filtered build side broadcasts; disjunction post-join") {
    val p = plan("q19_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"),
      "the brand-filtered part slice must broadcast")
    assert(p.contains("Brand#1"),
      "the brand union must reach the part scan as a pushed filter")
    assert(!p.contains("CartesianProduct"))
  }

  test("q4: EXISTS runs as a left semi join, no distinct") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), "EXISTS must decorrelate to a semi join")
    assert(!p.toLowerCase.contains("distinct"),
      "the semi join never duplicates orders — a distinct means the shape broke")
  }

  test("data_manifest: map-side folds, no window, no join") {
    val p = plan("data_manifest")
    assert(p.contains("partial_count") && p.contains("partial_bit_xor"),
      "counts and the digest must combine map-side")
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("ann_dim_trunc_eval: the truth side is checkpointed once") {
    val p = plan("ann_dim_trunc_eval")
    assert(p.contains("Scan ExistingRDD") || p.contains("Checkpoint"),
      "all three width evaluations must reuse the checkpointed truth top-k")
  }

  test("q7: supplier-nation broadcasts; pair filter post-join; no product") {
    val p = plan("q7_nation_volume")
    assert(p.contains("BroadcastHashJoin"),
      "the nation-tagged supplier dim must broadcast onto the fact scan")
    assert(!p.contains("CartesianProduct"), "all joins are keyed")
    assert(p.contains("partial_sum"),
      "revenue must partial-aggregate before the group shuffle")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "the ship-date slice must reach the parquet scan")
  }

  test("q14: one pass computes promo and total; single aggregate") {
    val p = plan("q14_promo_share")
    assert(p.contains("BroadcastHashJoin"),
      "the part type dim must broadcast")
    // both conditional sums live in the same aggregate — the fact
    // table is scanned once
    assert("FileScan parquet.*lineitem".r.findAllIn(p).size == 1,
      "the fact table must be scanned exactly once")
  }

  test("q18: per-order qty is one partial agg; top-k never sorts globally") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("partial_sum"),
      "the per-order quantity total must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("graph_clustering_coeff: edge set checkpointed once; keyed joins") {
    val p = plan("graph_clustering_coeff")
    assert(p.contains("Scan ExistingRDD"),
      "the degree fold and triangle pass must reuse the checkpointed edges")
    assert(!p.contains("CartesianProduct"))
  }

  test("q15: exact-cents totals; the max frame broadcasts") {
    val p = plan("q15_top_supplier")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the single-row max frame must broadcast, never shuffle the totals")
    assert(p.contains("partial_sum"),
      "per-supplier totals must partial-aggregate map-side")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "the date slice must reach the parquet scan")
  }

  test("q13: left join keyed; second-level histogram fold partial-aggregates") {
    val p = plan("q13_cust_distribution")
    assert(p.contains("LeftOuter"),
      "zero-order customers survive only through a left outer join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"),
      "both aggregation levels must combine map-side")
  }

  test("sparql_path_inverse: both inverse hops prune the partitioned store") {
    assertStoreScansPruned(SparkEntry.queries("sparql_path_inverse")(spark, dir))
  }

  test("graph_resource_alloc: weighted wedges partial-agg; top-k heaps") {
    // the key's Spark side (budget 0): at sf0.001 its edges fit the
    // regime gate, and the driver side has no plan to guard
    val p = graft.graphx.Analytics.resourceAllocation(
      graft.graphx.GraphQueries.coOrderPartEdgeKeys(spark, dir), 20, 10000000L, 0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum"),
      "the 1/deg contributions must combine map-side")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("graph_katz_centrality: walk folds partial-agg; top-k heaps") {
    val p = plan("graph_katz_centrality")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum"),
      "each walks_k fold must combine map-side")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("events_rfm: one user fold, broadcast recency epoch, no sort") {
    val p = plan("events_rfm")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the single-row corpus max must broadcast")
    assert(!p.contains("Window"),
      "log buckets must not introduce a quantile window/sort")
  }

  test("mm_modality_report: prefix dispatch never enters the codec path") {
    val p = plan("mm_modality_report")
    assert(!p.contains("SerializeFromObject") && !p.contains("MapPartitions"),
      "the classifier must read prefixes in codegen, not decode payloads")
    assert(p.contains("partial_count"),
      "the per-modality report must combine map-side")
  }

  test("emb_far_from_centroid: broadcast centroids, bottom-k heaps") {
    val p = plan("emb_far_from_centroid")
    assert(p.contains("TakeOrderedAndProject"), "bottom-k must not globally sort")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the centroid table must broadcast")
  }

  test("rdf_canon_labels: WL rounds are keyed joins + one collect per round") {
    val p = plan("rdf_canon_labels")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_collect_list"),
      "signature multisets must buffer map-side per blank — the in-row " +
        "sort_array keeps ordering off the exchange")
  }

  test("pipeline_reject_funnel: stage counts on broadcast one-row frames") {
    val p = plan("pipeline_reject_funnel")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the stage-count frames must broadcast, never shuffle the corpus")
  }

  test("ann_ivf_probe_sweep: one branch per probe point, all heaped") {
    val p = plan("ann_ivf_probe_sweep")
    assert(!p.contains("SortMergeJoin"),
      "every join in the sweep is centroid/truth-sized — broadcastable")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("events_ab_test_report: one pass, multi-distinct via Expand") {
    val p = plan("events_ab_test_report")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Expand"),
      "the two distinct-user counts must share one Expand pass, not rescan")
  }

  test("data_length_sweep: every cutoff folds in ONE scan") {
    val p = plan("data_length_sweep")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "all sweep points must fold in one conditional-agg pass, not k scans")
    assert(p.contains("partial_sum"),
      "the conditional sums must combine map-side")
  }

  test("text_vocab_coverage: vocab heaps, counts fold once") {
    val p = plan("text_vocab_coverage")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k vocab must heap, not globally sort")
    assert(p.contains("partial_sum"),
      "the coverage sums must combine map-side")
  }

  test("events_burst_peak: two keyed partial-agg shuffles, no window") {
    val p = plan("events_burst_peak")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"),
      "the per-window counts must combine map-side")
    assert(!p.contains("Window"),
      "the per-user argmax must be an aggregate, not a window sort")
  }

  test("dedup_shingle_df_profile: two folds, both partial") {
    val p = plan("dedup_shingle_df_profile")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"),
      "both df and bucket folds must combine map-side")
  }

  test("q12: priority split pivots in one conditional-agg pass") {
    val p = plan("q12_priority_lateness")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum"),
      "both CASE sums must combine map-side in the same pass")
  }

  test("data_split_contamination: gram-keyed semi-join, no cartesian") {
    val p = plan("data_split_contamination")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"),
      "the train-gram membership test must be a semi-join")
    assert(p.contains("partial_count"),
      "the per-doc leak count must combine map-side")
  }

  test("q2: correlated min decorrelates to two aggs; dims broadcast") {
    val p = plan("q2_min_cost_supplier")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      "region suppliers and sized parts must broadcast onto the fact scan")
    assert(p.contains("partial_min"),
      "the per-(part,supplier) min must combine map-side")
  }

  test("q9: profit rollup keeps dims broadcast and the sum partial") {
    val p = plan("q9_profit_by_nation_year")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      "part and supplier-nation must broadcast")
    assert(p.contains("partial_sum"),
      "the profit sum must combine map-side")
  }

  test("q16: distinct pairs then broadcast part attrs and anti-joined exclusions") {
    val p = plan("q16_supplier_variety")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftAnti"),
      "the supplier exclusion must be an anti-join, not a filter subquery")
    assert(p.contains("BroadcastHashJoin"),
      "part attributes must broadcast onto the pair relation")
  }

  test("q21: EXISTS/NOT EXISTS decorrelate to one semi and one anti join") {
    val p = plan("q21_late_sole_supplier")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"),
      "EXISTS(another supplier) must be a left-semi join")
    assert(p.contains("LeftAnti"),
      "NOT EXISTS(another late supplier) must be a left-anti join")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must not globally sort")
  }

  test("q20: dominant-supplier set semi-joins the region suppliers") {
    val p = plan("q20_top_shippers")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"),
      "the qualified set must semi-join, never duplicate suppliers")
  }

  test("sparql_path_seq_range: no closure — bounded joins keep scans visible") {
    // unlike the '+' form there is no checkpoint barrier, so the FULL
    // plan must show pruned predicate scans and equi-join composition
    val df = SparkEntry.queries("sparql_path_seq_range")(spark, dir)
    assertStoreScansPruned(df)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("rdf_canon_digest: label joins keyed; one-row commutative fold") {
    val p = plan("rdf_canon_digest")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_bit_xor") || p.contains("bit_xor"),
      "the digest must fold as a commutative aggregate")
  }

  test("sparql_path_seq_plus: both sequence legs prune the partitioned store") {
    // the key's final frame sits on the closure's localCheckpoint, so
    // pin the COMPOSED edge relation the closure iterates over — that
    // is where leg pruning lives
    val t = graft.rdf.TripleStore.triples(spark, dir)
    val edges = graft.sparql.Compiler.seqEdges(t, Seq(
      graft.sparql.Ast.PathStep(":inRegion", inverse = false),
      graft.sparql.Ast.PathStep(":inRegion", inverse = true)))
    assertStoreScansPruned(edges)
    assert(!edges.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "the step composition must be an equi-join on the hop var")
  }

  test("graph_assortativity: one-row fold; degree joins keyed") {
    val p = plan("graph_assortativity")
    assert(p.contains("Scan ExistingRDD"),
      "the degree fold and edge-weight join must reuse the checkpointed edges")
    assert(p.contains("partial_sum"),
      "the four integer sums must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("emb_pca_project: projection is a broadcast zip fold, no dim explode") {
    val p = plan("emb_pca_project")
    assert(p.contains("Scan ExistingRDD"),
      "the eigenvector must come from the checkpointed Gram pipeline")
    assert(p.contains("zip_with"),
      "the per-vector projection must fold in-row, not explode dims")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the one-row eigenvector array must broadcast onto the corpus")
  }

  test("data_contrastive_pairs: fused bucket kernel; keyed negative folds") {
    val p = plan("data_contrastive_pairs")
    assert(p.contains("hyperplane_code"),
      "bucket codes must use the fused native kernel")
    assert(!p.contains("Window"),
      "negative picks are min-folds, never a window over a hot bucket")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_rate_outliers: single-row stats broadcast; map-side filter") {
    val p = plan("events_rate_outliers")
    assert(p.contains("partial_count"),
      "per-user counts must combine map-side")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the global stats row must broadcast, never shuffle the counts again")
  }

  test("events_rolling_daily: user-keyed window, no single-partition exchange") {
    val p = plan("events_rolling_daily")
    assert(p.contains("partial_count"), "daily counts must combine map-side")
    assert(p.contains("windowspecdefinition(user_id"),
      "the rolling frame must be keyed by user, never a global window")
    assert(!p.contains("Exchange SinglePartition"),
      "no stage may funnel the fact table through one partition")
  }

  test("events_engagement_gini: fact agg combines map-side; window is histogram-sized") {
    val p = plan("events_engagement_gini")
    assert(p.contains("partial_count"),
      "the per-user count must partial-aggregate")
    // the single-partition window is ALLOWED here: it runs over the
    // count histogram (vocabulary-scale), not over users
    assert(!p.contains("CartesianProduct"))
  }

  test("q_grouping_sets: one Expand, one fact scan") {
    val p = plan("q_grouping_sets")
    assert(p.contains("Expand"), "grouping sets must expand, not re-scan")
    assert("FileScan parquet.*lineitem".r.findAllIn(p).size == 1,
      "the fact table must be scanned exactly once")
  }

  test("graph_avg_neighbor_degree: linear keyed join, no wedge enumeration") {
    val p = plan("graph_avg_neighbor_degree")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"), "degree counts must combine map-side")
  }

  test("q_topk_per_group: rank window runs over the rollup, not raw facts") {
    val p = plan("q_topk_per_group")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "the fact table must fold to per-group sums before the window")
    assert(p.contains("row_number"), "per-group top-k is a rank window")
    assert(!p.contains("Exchange SinglePartition"),
      "the window partitions by group, never a global funnel")
  }

  test("events_type_drift: grid/totals/types read the checkpointed counts") {
    val p = plan("events_type_drift")
    // the fact-table count runs ONCE, before the checkpoint — the
    // visible plan must therefore contain no events scan at all (a
    // parquet scan here would mean each leg re-counts the corpus)
    assert("FileScan parquet.*events".r.findAllIn(p).isEmpty,
      "grid/totals/types must read the CHECKPOINTED counted frame")
    assert(!p.contains("Exchange SinglePartition"),
      "the drift rollup partitions by day, never a global funnel")
  }

  test("dedup_containment: integer threshold, shared sets reused, keyed joins") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct"), "candidates come from the index join")
    assert(p.contains("InMemoryTableScan"),
      "the index and both verify sides must reuse the persisted shingle sets")
    assert(!p.toLowerCase.contains("round("),
      "the containment compare is integer cross-multiplication, no floats")
  }

  test("q8: nation dims broadcast; one aggregate per year") {
    val p = plan("q8_market_share")
    assert(p.contains("BroadcastHashJoin"), "supplier-nation flag must broadcast")
    assert("FileScan parquet.*lineitem".r.findAllIn(p).size == 1,
      "the fact table must be scanned exactly once")
    assert(!p.contains("CartesianProduct"))
  }

  test("rdf_skolemize: per-row projection, no shuffle, no join") {
    val p = plan("rdf_skolemize")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "skolemization is a per-row md5 projection — shards are independent")
  }

  test("q10: returnflag pushed to the fact scan; top-k never sorts globally") {
    val p = plan("q10_returned_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      "the returned-items slice must reach the parquet scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("rdf_diff: anti joins keyed on the triple, no product") {
    // judge only the plan above the cached store (the InMemoryRelation
    // section replays the store build); the operator text repeats
    // "LeftAnti" per join detail line, so assert presence, not count
    val p = plan("rdf_diff").split("InMemoryRelation")(0)
    assert(p.contains("LeftAnti"),
      "added/removed sides must be anti joins, not except/distinct plans")
    assert(!p.contains("CartesianProduct"))
  }

  test("sparql_optional_filter: the filter rides the left join, rows kept") {
    val p = plan("sparql_optional_filter")
    assert(p.contains("LeftOuter"),
      "OPTIONAL compiles to a left outer join")
    assert(p.contains("1-URGENT"),
      "the scoped filter must restrict the optional side before the join")
  }

  test("rdf_shape_validate: shape table broadcasts; path counts keyed") {
    val p = plan("rdf_shape_validate").split("InMemoryRelation")(0)
    assert(p.contains("BroadcastHashJoin"),
      "the ontology-sized shape table must broadcast onto the type scan")
    assert(p.contains("LeftOuter"),
      "absent properties must count 0 through a left join")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_sliding_topk: rank runs over aggregated counts, not events") {
    val p = plan("events_sliding_topk")
    assert(p.contains("partial_count"),
      "window counts must combine map-side before the rank")
    assert("Window".r.findAllIn(p).size >= 1 && !p.contains("CartesianProduct"))
  }

  test("q6: every predicate reaches the scan; no join anywhere") {
    val p = plan("q6_forecast_revenue")
    // the PushedFilters list prints truncated, so pin its head — date
    // and discount filters lead it — plus the pruned 4-column schema
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"),
      "date + discount filters must reach the parquet scan")
    assert(!p.contains("l_orderkey"), "unused columns must be pruned")
    assert(!p.contains("Join"), "Q6 is the pure filter-aggregate")
  }

  test("events_stickiness: one fact distinct; month rollups metadata-scale") {
    val p = plan("events_stickiness")
    assert(p.contains("partial_count"),
      "per-day and per-month folds must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_code_detect: per-row projection, no shuffle") {
    val p = plan("text_code_detect")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "the classifier runs inside the scan's codegen stage")
  }

  test("mm_dup_frames: hash-keyed fold, never frame-by-frame join") {
    val p = plan("mm_dup_frames")
    assert(p.contains("partial_count"),
      "frame-hash doc counts must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_session_hist: one user shuffle; bucket fold map-side") {
    val p = plan("events_session_hist")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "sessionization rides ONE user-keyed shuffle")
    assert(p.contains("partial_count"),
      "the ≤64-bucket histogram must combine map-side")
  }

  test("text_gopher_by_source: per-doc gate joined once, rollup keyed") {
    val p = plan("text_gopher_by_source")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"),
      "slice rollups must combine map-side")
  }

  test("events_funnel_by_segment: dimension broadcasts; segment rollup keyed") {
    val p = plan("events_funnel_by_segment")
    assert(p.contains("BroadcastHashJoin"),
      "the customer segment dim must broadcast onto the funnel rows")
    assert(!p.contains("CartesianProduct"))
  }

  test("emb_norm_hist: in-row norm fold, map-side bucket combine") {
    val p = plan("emb_norm_hist")
    assert(p.contains("aggregate("),
      "the squared norm must fold IN-ROW, not explode dims")
    assert(p.contains("partial_count"),
      "bucket counts must combine map-side")
    assert(!p.contains("Join"))
  }

  test("rdf_blank_scoped_import: parse + scope + skolemize, no shuffle") {
    val p = plan("rdf_blank_scoped_import")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "scoped import is a per-row pass — shards import independently")
  }

  test("ann_sq8_recall_eval: both rankings are top-k heaps") {
    val p = plan("ann_sq8_recall_eval")
    assert(p.contains("TakeOrderedAndProject"),
      "neither side may globally sort the corpus")
    assert(p.contains("dot_int"),
      "the SQ8 side must rank with the fused integer kernel")
  }

  test("events_journey_trigrams: one user window; top-k never sorts globally") {
    val p = plan("events_journey_trigrams")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "both leads ride ONE user-keyed window pass")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("rdf_void_linksets: one partial-agg fold over the store") {
    val p = plan("rdf_void_linksets").split("InMemoryRelation")(0)
    assert(p.contains("partial_count"),
      "linkset counts must combine map-side")
    assert(!p.contains("Join"))
  }

  test("events_user_streaks: islands ride one user-keyed shuffle") {
    val p = plan("events_user_streaks")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 2,
      "the distinct, window, and folds share user-keyed partitioning")
    assert(!p.contains("Join"))
  }

  test("events_first_touch: credit fold combines map-side; no product") {
    val p = plan("events_first_touch")
    assert(p.contains("partial_min_by") || p.contains("partial_min"),
      "the earliest-view pick must combine map-side, not window all views")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_cube_pricing: the full lattice rides one Expand shuffle") {
    val p = plan("q_cube_pricing")
    assert(p.contains("Expand"),
      "grouping sets must expand map-side, not run one pass per set")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "CUBE is the single two-level aggregate, nothing more")
  }

  test("q17: brand slice broadcasts; per-part avg is one partial agg") {
    val p = plan("q17_small_quantity")
    assert(p.contains("BroadcastHashJoin"),
      "the brand part slice must broadcast onto the fact scan")
    assert(p.contains("partial_avg"),
      "the per-part average must partial-aggregate (decorrelated form)")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_idf_table: in-row distinct, one df shuffle") {
    val p = plan("text_idf_table")
    assert(p.contains("array_distinct"),
      "df must dedupe per-doc IN-ROW, not via a (doc, token) distinct")
    assert(!p.contains("Exchange rangepartitioning"), "no sort anywhere")
    assert(p.contains("partial_count"), "df fold combines map-side")
  }

  test("emb_power_iter: one corpus fold, metadata-scale matvecs") {
    val p = plan("emb_power_iter")
    // the Gram fold is checkpointed: the plan above the checkpoint
    // scan must NOT contain the corpus explode again
    assert(!p.contains("FileScan parquet") || p.contains("Checkpoint")
      || p.contains("Scan ExistingRDD"),
      "both matvecs must read the checkpointed Gram fold, not re-fold the corpus")
  }

  test("dedup_incremental: one fp-keyed join, no product") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct"), "the screen joins on fp")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"),
      "incoming must probe the distinct existing fingerprints by key")
  }

  test("events_lateness_profile: user window then map-side type fold") {
    val p = plan("events_lateness_profile")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "the running-max window rides ONE user-keyed shuffle")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the per-type fold combines map-side")
  }

  test("rdf_graph_digest: narrow fold above the store, partial xor") {
    val p = plan("rdf_graph_digest").split("InMemoryRelation")(0)
    assert(!p.contains("Join"), "the digest is a pure aggregation")
    assert(p.contains("partial_bit_xor") || p.contains("bit_xor"),
      "the xor fold must combine map-side")
  }

  test("text_readability stays narrow; vocab stats folds map-side") {
    val p = plan("text_readability")
    assert(!p.contains("Exchange"), "readability is a per-row pass, no shuffle")
    val v = plan("text_vocab_stats")
    assert(v.contains("partial_count") || v.contains("partial_sum"),
      "token counts must combine map-side")
    assert(!v.contains("Sort "), "vocab stats never sorts")
  }

  test("facade: textual SPARQL end-to-end") {
    val df = Graft.sparql(spark, dir,
      """SELECT ?c ?b WHERE { ?c a :Customer ; :acctbal ?b . FILTER(?b >= 0) }""")
    assert(df.columns.toSeq == Seq("c", "b") && df.count() > 0)
  }

  test("facade: query() dispatches all four query forms") {
    val t = Graft.triples(spark, dir)
    assert(Graft.query(t, "ASK { ?c a :Customer }").columns.toSeq == Seq("ask"))
    assert(Graft.query(t, "DESCRIBE <nat:1>").count() > 0)
    assert(Graft.query(t,
      "CONSTRUCT { ?c a :Client } WHERE { ?c a :Customer }").columns.length == 3)
    assert(Graft.query(t, "SELECT ?c WHERE { ?c a :Customer }").count() > 0)
  }

  test("q22: rational threshold broadcasts; NOT EXISTS is an anti join") {
    val p = plan("q22_idle_customers")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row (sum, count) rational must broadcast onto the scan")
    assert(p.contains("LeftAnti"), "no-recent-orders must be a left anti join")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_langid_eval: confusion fold combines map-side") {
    val p = plan("text_langid_eval")
    assert(p.contains("partial_count"),
      "matrix cells must partial-aggregate before the shuffle")
    assert(!p.contains("Sort "), "no sort in a confusion matrix fold")
  }

  test("compat mask-split slices scan a checkpoint, not the upstream subplan") {
    // the 2^k unbound-mask slices each filter the SAME input — both
    // sides are localCheckpoint'ed so every slice reads the
    // materialization (Scan ExistingRDD) and the upstream store scan
    // + joins run once, at checkpoint time, instead of per slice
    for (key <- Seq("sparql_optional_compat", "sparql_join_compat",
        "sparql_minus_compat")) {
      val p = plan(key)
      assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
        s"$key: slices must scan the checkpointed compat inputs")
      assert(!p.contains("Scan parquet"),
        s"$key: no slice may re-run the store scan past the checkpoint")
    }
    graft.Checkpoints.releaseCaches()
  }

  test("theta-fallback boundary: common compat paths stay equi-joins") {
    // the null-tolerant theta fallback (Compiler.thetaCompat*) is the
    // documented escape hatch past the 2^6 mask budget — a nested-
    // loop-family join that must NEVER serve the common shapes: plain
    // OPTIONAL/UNION (risky = ∅ ⇒ single equi-join) and the in-budget
    // compat keys (mask-split equi-join slices). A refactor that
    // widens the theta path shows up here as BNLJ/CartesianProduct.
    for (key <- Seq("sparql_optional", "sparql_union",
        "sparql_optional_compat", "sparql_join_compat",
        "sparql_minus_compat", "sparql_values_undef")) {
      val p = plan(key)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$key: compat path must compile to equi-joins, not BNLJ")
      assert(!p.contains("CartesianProduct"),
        s"$key: compat path must compile to equi-joins, not a product")
    }
    graft.Checkpoints.releaseCaches()
  }

  test("sparql_path_alt_in_seq: every branch prunes; no product") {
    // the combo expansion unions plain sequences — each branch's
    // constant-predicate steps must still filter the store on `p`,
    // and the union must stay equi-join-only
    val df = SparkEntry.queries("sparql_path_alt_in_seq")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Union"), "alternation must expand to a union")
    assertStoreScansPruned(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "branches must compile to equi-joins")
  }

  test("infer_sameas_canon: canon pick is a keyed agg + join, never a window") {
    // one giant component + dust is the usual identity-graph shape;
    // a window over comp would sort the blob inside one task, while
    // groupBy(comp).min partial-aggregates map-side and joins back
    val p = plan("infer_sameas_canon")
    assert(!p.contains("Window"),
      "per-component canon must not run through a window sort")
  }

  test("text_unigram_surprisal: Zipf head broadcasts; only the tail shuffles by token") {
    // bm25 idiom: the top-K vocabulary joins map-side (broadcast);
    // the token-keyed exchange only ever carries tail tokens, whose
    // per-key multiplicity the head cutoff bounds
    val p = plan("text_unigram_surprisal")
    assert(p.contains("BroadcastHashJoin"),
      "the head vocabulary join must broadcast")
    assert(p.contains("Union"),
      "head and tail regimes must union back")
  }

  test("text_lm_gate: trained head broadcasts; OOV rides the tail's outer join") {
    // the trained vocabulary's Zipf head joins the scoring stream
    // map-side; only tail tokens (bounded multiplicity) shuffle keyed,
    // and the smoothing constants ride a 1-row broadcast — no
    // corpus-keyed exchange of the hot tokens
    val p = plan("text_lm_gate")
    assert(p.contains("BroadcastHashJoin"),
      "the trained head join must broadcast")
    assert(p.contains("Union"),
      "head and tail scoring regimes must union back")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      "the (N, V) smoothing constants must broadcast")
  }

  test("text_zipf_head_coverage: head joins broadcast; counts fold first") {
    // the top-K head is vocabulary-bounded — it must broadcast onto
    // the per-(source, token) counts, never shuffle them by token
    val p = plan("text_zipf_head_coverage")
    assert(p.contains("BroadcastHashJoin"),
      "the head join must broadcast")
  }

  test("text_bigram_surprisal: head bigrams/contexts broadcast; tail unions back") {
    // same bm25 posture as the unigram rung, applied twice (bigram
    // table + context table): the Zipf-head pair keys join map-side,
    // so the pair-keyed exchange only ever carries tail pairs
    val p = plan("text_bigram_surprisal")
    assert(p.contains("BroadcastHashJoin"),
      "the head joins must broadcast")
    assert(p.contains("Union"),
      "head and tail regimes must union back")
    assert(!p.contains("SortMergeJoin"),
      "no full-stream sort-merge join keyed by pair")
  }

  test("text_char_entropy: two partial-agg folds, no window, no wide join") {
    // per-(doc, char) fold + per-doc refold + a doc-keyed join back —
    // everything partial-aggregates; a window over the char stream
    // would sort each doc's characters inside one task
    val p = plan("text_char_entropy")
    assert(!p.contains("Window"), "no window over the char stream")
    assert(!p.contains("CartesianProduct"))
  }

  test("data_mix_temperature: rates broadcast onto the scan; decision is map-side") {
    // source-level rate table is metadata-sized — it must broadcast;
    // the accept decision is a per-row md5 bucket compare, so the
    // corpus itself never shuffles
    val p = plan("data_mix_temperature")
    assert(p.contains("BroadcastHashJoin"),
      "the per-source rate join must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must not shuffle for a metadata-sized join")
  }

  test("sparql_optional_join_filter: condition LeftJoin stays keyed joins") {
    // §8.1.1 LeftJoin(P1, P2, F): matched = inner equi-join + merged-
    // frame filter, bare = id-keyed anti join — never a nested loop
    // or a product, whatever the condition's shape
    val p = plan("sparql_optional_join_filter")
    assert(!p.contains("CartesianProduct"),
      "the condition must not degrade the join to a product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the condition must not force a nested loop")
  }

  test("ann_mutual_topk: one knn pass; mutuality is a keyed equi-join") {
    // the reciprocal filter must be a hash join on the reversed
    // (query, neighbor) pair — never a second vectors² pass
    val p = plan("ann_mutual_topk")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must prune before the window shuffle")
    assert(!p.contains("CartesianProduct"),
      "mutuality must join on pair keys, not re-pair the slice")
  }

  test("stats-driven BGP order: rare predicate's scan leads; small sides broadcast") {
    // the per-predicate profile (TripleStats) must drive the join
    // chain: :inRegion (25 rows) leads despite being syntactically
    // second, and the stats-hinted small sides broadcast — at 100×
    // scale this bounds every intermediate by ~|rare| instead of
    // ~|hot| and removes the shuffle entirely
    val store = graft.rdf.TripleStore.triples(spark, dir)
    val p = Graft.sparql(store,
      "SELECT ?x WHERE { ?x rdf:type ?t . ?x :inRegion ?r }")
      .queryExecution.executedPlan.toString
    val iRare = p.indexOf(":inRegion")
    val iHot = p.indexOf("rdf:type")
    assert(iRare >= 0 && iHot >= 0, "both pattern filters must appear in the plan")
    assert(iRare < iHot,
      "the rare predicate's pattern must lead the join chain")
    assert(p.contains("BroadcastHashJoin"),
      "stats-hinted small pattern sides must broadcast")
  }

  test("sparql_order_by_agg: ORDER BY DESC(COUNT) reuses the projected fold") {
    // §18.2.4.4 normalization: the order key is the SAME aggregate as
    // the projected (COUNT(?c) AS ?cnt) — differential pin: the plan
    // has NO MORE HashAggregate nodes than the identical query without
    // the aggregate order key (the store-build prefix is shared), and
    // the top-3 never globally sorts
    val store = graft.rdf.TripleStore.triples(spark, dir)
    def aggCount(q: String) = "HashAggregate".r.findAllIn(
      Graft.sparql(store, q).queryExecution.executedPlan.toString).size
    val base = aggCount(
      """SELECT ?m (COUNT(?c) AS ?cnt)
        |WHERE { ?c a :Customer . ?c :mktsegment ?m } GROUP BY ?m""".stripMargin)
    val withOrder = aggCount(
      """SELECT ?m (COUNT(?c) AS ?cnt)
        |WHERE { ?c a :Customer . ?c :mktsegment ?m }
        |GROUP BY ?m ORDER BY DESC(COUNT(?c)) ASC(?m) LIMIT 3""".stripMargin)
    assert(withOrder <= base,
      s"order key must reuse the projected fold ($withOrder vs $base HashAggregates)")
    assert(plan("sparql_order_by_agg").contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT must stay a top-k, not a global sort")
  }

  test("sparql_select_expr_agg: post-agg expressions stay on the aggregated frame") {
    // the SUM/COUNT ratio binds AFTER the fold: both embedded
    // aggregates share ONE aggregation (differential: no more
    // HashAggregates than the plain two-aggregate projection) and the
    // pattern frame is never re-joined
    val store = graft.rdf.TripleStore.triples(spark, dir)
    def planOf(q: String) =
      Graft.sparql(store, q).queryExecution.executedPlan.toString
    val base = "HashAggregate".r.findAllIn(planOf(
      """SELECT ?c (SUM(?t) AS ?s) (COUNT(?o) AS ?n)
        |WHERE { ?o :byCustomer ?c . ?o :totalprice ?t }
        |GROUP BY ?c""".stripMargin)).size
    val pp = planOf(
      """SELECT ?c (SUM(?t)/COUNT(?o) AS ?av) (COUNT(?o) AS ?cnt)
        |WHERE { ?o :byCustomer ?c . ?o :totalprice ?t }
        |GROUP BY ?c""".stripMargin)
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
      "post-aggregation select expressions must not re-join the pattern")
    val aggs = "HashAggregate".r.findAllIn(pp).size
    assert(aggs <= base,
      s"the two embedded aggregates must share one fold ($aggs vs $base HashAggregates)")
  }

  test("sparql_graph_var_path: ONE pass over the quads, invariant in graph count") {
    // the r16 one-pass compile: a property path under GRAPH ?g runs
    // the closure over graph-encoded node ids — the plan must NOT
    // grow a union branch (or a scan) per named graph the way the
    // old per-named-graph fallback did. Differential pin: identical
    // plan shape for 2 and 6 named graphs.
    import spark.implicits._
    def quadsOf(n: Int) =
      (0 until n).flatMap { g =>
        Seq((s"g:$g", s"n:$g:1", ":e", s"n:$g:2",
          Option.empty[Double], true, Option.empty[String]),
          (s"g:$g", s"n:$g:2", ":e", s"n:$g:3", None, true, None))
      }.toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    def planOf(n: Int, q: String) =
      graft.sparql.Compiler.runQuads(quadsOf(n),
        graft.sparql.SparqlParser.parse(q))
        .queryExecution.executedPlan.toString
    def shape(p: String) =
      ("Union".r.findAllIn(p).size, "Scan".r.findAllIn(p).size)
    val varVar = "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x :e+ ?y } }"
    assert(shape(planOf(6, varVar)) == shape(planOf(2, varVar)),
      "var-var closure plan must not scale with named-graph count")
    val seeded = "SELECT ?g ?y WHERE { GRAPH ?g { <n:0:1> :e+ ?y } }"
    assert(shape(planOf(6, seeded)) == shape(planOf(2, seeded)),
      "seeded-BFS plan must not scale with named-graph count")
  }

  test("graph-var sub-SELECT rewrites: WindowGroupLimit cut, one-pass HAVING") {
    import spark.implicits._
    def quadsOf(n: Int) =
      (0 until n).flatMap { g =>
        Seq((s"g:$g", s"n:$g:1", ":e", s"n:$g:2",
          Option.empty[Double], true, Option.empty[String]),
          (s"g:$g", s"n:$g:2", ":e", s"n:$g:3", None, true, None))
      }.toDF("g", "s", "p", "o", "o_num", "o_is_iri", "lang")
    def planOf(n: Int, q: String) =
      graft.sparql.Compiler.runQuads(quadsOf(n),
        graft.sparql.SparqlParser.parse(q))
        .queryExecution.executedPlan.toString
    def shape(p: String) =
      ("Union".r.findAllIn(p).size, "Scan".r.findAllIn(p).size)
    // PerGraphLimited: the ordered per-graph cut must reach Spark's
    // WindowGroupLimit rewrite (Partial mode applies the rank cut
    // map-side), not sort whole graph partitions under a full Window
    val lim = """SELECT ?g ?s WHERE { GRAPH ?g {
      { SELECT ?s WHERE { ?s :e ?o } ORDER BY ?s LIMIT 1 } } }"""
    val pLim = planOf(2, lim)
    assert(pLim.contains("WindowGroupLimit"),
      "per-graph ordered cut must apply as a group limit before the window")
    assert(shape(planOf(6, lim)) == shape(pLim),
      "per-graph cut plan must not scale with named-graph count")
    // PerGraphGlobalAgg + HAVING: fill-then-HAVING stays ONE pass —
    // no union branch per named graph (the pre-r17 fallback shape)
    val hv = """SELECT ?g ?c WHERE { GRAPH ?g {
      { SELECT (COUNT(?o) AS ?c) WHERE { ?s :e ?o }
        HAVING (COUNT(?o) > 0) } } }"""
    assert(shape(planOf(6, hv)) == shape(planOf(2, hv)),
      "threaded HAVING-over-global-aggregate must not scale with graph count")
    // un-ordered LIMIT (r17): threads as a deterministic per-graph
    // window cut — same one-pass shape, same group-limit rewrite
    val ul = """SELECT ?g ?s WHERE { GRAPH ?g {
      { SELECT ?s WHERE { ?s :e ?o } LIMIT 1 } } }"""
    val pUl = planOf(2, ul)
    assert(pUl.contains("WindowGroupLimit"),
      "un-ordered per-graph cut must apply as a group limit")
    assert(shape(planOf(6, ul)) == shape(pUl),
      "un-ordered per-graph cut must not scale with graph count")
    // UNPROJECTED sort key (r18): lifted into the window's sort and
    // dropped after the cut — same one-pass group-limit shape, no
    // enumerate fallback, and the lifted key must not leak out
    val up = """SELECT ?g ?s WHERE { GRAPH ?g {
      { SELECT ?s WHERE { ?s :e ?o } ORDER BY DESC(?o) LIMIT 1 } } }"""
    val dfUp = graft.sparql.Compiler.runQuads(quadsOf(2),
      graft.sparql.SparqlParser.parse(up))
    assert(!dfUp.columns.contains("o"),
      "lifted sort key must be dropped after the per-graph cut")
    val pUp = dfUp.queryExecution.executedPlan.toString
    assert(pUp.contains("WindowGroupLimit"),
      "unprojected-key per-graph cut must apply as a group limit")
    assert(shape(planOf(6, up)) == shape(pUp),
      "unprojected-key per-graph cut must not scale with graph count")
  }

  test("bpe round: pair count is ONE keyed fold with map-side combine, no join") {
    import spark.implicits._
    val words = Seq((" a b </w> ", 3L), (" c d </w> ", 2L)).toDF("seq", "freq")
    val p = graft.pipeline.TextAnalysis.bpeSymbolPairs(words)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"),
      "pair counts must partial-aggregate before the shuffle")
    assert(!p.contains("Join"), "the per-round fold must not join")
  }

  test("text_bpe_encode: reads the checkpointed vocab, not the corpus; top-k without global sort") {
    val p = plan("text_bpe_encode")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
    assert(p.contains("ExistingRDD"),
      "encode must fold the checkpointed vocab generation (the corpus " +
        "is scanned once, in the training loop)")
    assert(!p.contains("Join"), "encode is join-free")
  }

  test("emb_kmeans_train: output folds checkpointed generations, corpus scanned only inside the loop") {
    // the final plan joins the LAST assignment checkpoint with the
    // LAST centroid checkpoint — the parquet corpus must not reappear
    // (each round consumed it once; the output is generation-scale)
    val p = plan("emb_kmeans_train")
    assert(p.contains("ExistingRDD"),
      "output must read the checkpointed generations")
    assert(!p.contains("Scan parquet"),
      "the corpus must not be re-scanned outside the training rounds")
  }

  test("text_contamination_bloom: join-free screen, distributed build") {
    // the Bloom screen's whole point: the corpus side is ONE narrow
    // codegen pass (filter on bloom_contains) plus the per-doc count
    // — no join anywhere in the plan (the filter build is an RDD
    // partial-OR fold outside this plan)
    val p = plan("text_contamination_bloom")
    assert(!p.contains("Join"), "bloom screen must not join")
    assert(p.contains("bloom_contains"),
      "screen must test the native bloom expression")
  }
}
