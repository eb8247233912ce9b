package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Headline subset run by Bench (representative ops per section). */
  def benchQueries: Seq[String] = Seq(
    "q1_agg", "q3_join_topk",
    "rdf_build_triples", "rdf_ntriples_roundtrip", "rdf_nquads_roundtrip",
    "sparql_bgp_star", "sparql_bgp_chain", "sparql_groupby_count",
    "sparql_subquery",
    "infer_nodes_with_label",
    "graph_connected_components", "graph_pagerank",
    "dedup_minhash_lsh", "dedup_simhash", "ann_bruteforce_topk",
    "ann_lsh_topk", "ann_knn_join", "dedup_embedding_cosine",
    "dedup_ngram_jaccard",
    "text_quality_score", "text_contamination", "text_vocab_topk",
    "text_gopher_quality", "text_ngram_novelty", "text_top_terms",
    "data_pack_sequences", "data_mix", "pipeline_prepare",
    "ann_knn_classify", "emb_kmeans_assign", "graph_kcore",
    "events_window_agg", "events_sessionize", "events_topk_users",
    "events_funnel", "events_retention",
    // r7 additions: one representative per new component family
    "graph_label_propagation", "infer_sameas_canon", "data_curriculum",
    "events_sliding_window", "ann_int8_topk", "ann_pq_topk",
    // r8: the forced-approximate knn regime, plus one representative
    // each for retrieval scoring, tokenizer-training statistics,
    // changelog compaction, and the portable HLL sketch
    "ann_knn_join_banded", "text_bm25_topk", "text_bpe_pairs",
    "events_latest_state", "sketch_hll_distinct", "text_contamination_bloom",
    // r9: the forced over-budget dedup regime, the star BGP under its
    // second key, the as-of join, and the CMS sketch
    "dedup_ngram_jaccard_gated", "sparql_bgp_star_bucketed",
    "events_asof_join", "sketch_cms_counts",
    // r9 batch 2: substring-level dedup, the quantile sketch, and the
    // exact-k bottom-k sample
    "dedup_dup_spans", "sketch_quantile_hist", "data_sample_bottomk",
    // r9 batch 3: paragraph-level dedup with canonical keepers
    // (graph_scc stays verify-only: ~45 synchronous flood rounds make
    // it an outlier next to the second-scale bench keys, and kcore/
    // pagerank/cc already represent the iterative-graph family here)
    "dedup_paragraphs",
    // r9 batch 4: the stream-stream interval join's batch twin, the
    // multi-level OLAP rollup, and the HLL source-overlap matrix
    // (ann_recall_eval and graph_common_neighbors stay verify-only:
    // recall is two already-benched top-k ops plus a k-row join, and
    // the wedge enumeration shares its cost shape with the iterative
    // graph keys already representing that family here)
    "events_interval_join", "q_rollup_pricing", "sketch_hll_overlap",
    // r9 batches 5-7: the ratio-to-group window anchor and the
    // skip-gram co-occurrence statistic (the rest of the new keys are
    // compositions of already-benched shapes and stay verify-only)
    "q_window_share", "text_window_cooc",
    // r9 batch 10: the hourly-grid resample (sequence-explode + fill shape),
    // the dims²-cell Gram fold, and the multimodal perceptual-hash
    // band dedup (the rest of the batch-10 keys — scd2, pivot, readability,
    // vocab/void stats, HITS — are compositions of already-benched
    // shapes and stay verify-only)
    "events_gap_fill", "emb_gram_matrix", "mm_phash_dedup",
    // r9 batch 11: the canonical multi-way star join (the other three
    // batch-11 keys — transitive entailment, transition matrix,
    // reification — reuse already-benched closure/window/explode
    // shapes and stay verify-only)
    "q5_local_supplier",
    // r9 batch 12: the correlated-aggregate anchor (idf/power-iter
    // reuse benched fold shapes and stay verify-only)
    "q17_small_quantity",
    // r9 batch 18: the symmetric nation-pair join and the HAVING-
    // subquery anchor (q14/q15/q13/clustering-coeff/path-inverse
    // reuse already-benched shapes and stay verify-only)
    "q7_nation_volume", "q18_large_orders",
    // r9 batches 22-28: the prefix⋈full containment join and the
    // sliding-rank shape (the other new keys reuse benched shapes)
    "dedup_containment", "events_sliding_topk",
    // r10: the four NEW TPC-H plan shapes — correlated-min
    // decorrelation (q2), the 4-way profit rollup (q9), distinct-pair
    // count-distinct (q16), and the double semi/anti correlation
    // (q21); q11/q20 reuse the q22 scalar-subquery and q17-style
    // nested-agg shapes and stay verify-only
    "q2_min_cost_supplier", "q9_profit_by_nation_year",
    "q16_supplier_variety", "q21_late_sole_supplier",
    // r10 batches B-K: the three NEW shuffle shapes — the weighted
    // wedge join (resource allocation), the WL signature-collect fold
    // (canon labels), and the corpus-scale gram-keyed semi-join
    // (split leakage); the other new keys reuse benched shapes and
    // stay verify-only
    "graph_resource_alloc", "rdf_canon_labels", "data_split_contamination",
    // r11: the two NEW shuffle shapes — the sparse RANGE-frame window
    // (rolling daily) and the histogram-telescoped global statistic
    // (gini); the other r11 keys (grouping sets, σ-screen calendar
    // twin, neighbor-degree profile, the three SPARQL grammar keys,
    // the forced embedding-sweep regime) reuse benched Expand /
    // broadcast-fold / keyed-join shapes and stay verify-only
    "events_rolling_daily", "events_engagement_gini",
    // r15: the two NEW retrieval/statistic shapes — the two-arm RRF
    // fuse (hybrid retrieval) and the broadcast-head coverage fold;
    // the variable-graph group and QuadData keys reuse benched
    // quad-join / set-merge shapes and stay verify-only
    "ann_rrf_fusion", "text_zipf_head_coverage",
    // r15.b: the DOUBLE head-broadcast over pair keys (bigram LM
    // scoring — bigram AND context joins both head-split); char
    // entropy / temperature mix / mutual knn / the LeftJoin-condition
    // key reuse benched fold / broadcast-rate / knn / compat shapes
    // and stay verify-only
    "text_bigram_surprisal",
    // r16: the two NEW shapes — the graph-encoded per-graph closure
    // (one-pass GRAPH ?g over a property path) and the composed
    // IVF-probe → PQ-ADC → exact-rerank index; the recall eval and
    // the conformance-driven keys reuse benched shapes and stay
    // verify-only
    "sparql_graph_var_path", "ann_ivf_pq_topk",
    // r17: the dataset-clause compile (decoy-bearing quad fixture) is
    // a new benched shape; the IVF+PQ probe sweep is three runs of
    // the benched composed index and stays verify-only
    "sparql_from_named",
    // r18: the vocabulary-training LOOP (k synchronous merge rounds
    // over the word-type table) is a NEW benched shape; the encoder
    // and the cross-split LM gate reuse benched fold / head-broadcast
    // scoring shapes and stay verify-only
    "text_bpe_train")
    // r12-r14 keys stay verify-only: the gated CN/Jaccard wedge joins
    // share graph_resource_alloc's benched priced-gate shape, and the
    // datetime/TZ builtins, DESCRIBE semi-join arms, multi-valued LPG
    // collect folds, VALUES-UNDEF broadcast joins, and the 0-band
    // attribution left join all reuse benched per-row / keyed-join /
    // fold shapes

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.rdf.RdfQueries.queries ++
      graft.sparql.SparqlQueries.queries ++
      graft.inference.InferenceQueries.queries ++
      graft.graphx.GraphQueries.queries ++
      graft.pipeline.PipelineQueries.queries ++
      relational

  private def relational: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §I relational anchors -------------------------------------
    "q1_agg" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    "q3_join_topk" -> { (s, dir) =>
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      // dimension side (filtered customers) is small → broadcast
      ord.join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(li, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    // TPC-H Q5-style local-supplier volume: the canonical multi-way
    // star join. The region→nation chain folds to a ≤nation-count
    // lookup BROADCAST onto supplier; lineitem⋈orders is the one
    // fact-fact shuffle (both sides keyed by orderkey); customer
    // joins on custkey (dimension-scale hash join, AQE free to
    // broadcast at small SF) with the SAME-NATION predicate
    // (c_nationkey = s_nationkey) closing the cycle. Revenue ordering
    // ties broken by name → deterministic rows (r9 batch 11).
    "q5_local_supplier" -> { (s, dir) =>
      val asiaNations = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    // TPC-H Q17-style small-quantity revenue: the correlated-aggregate
    // anchor. The per-part average is ONE partial-agg shuffle over the
    // fact table (the decorrelated form of the subquery — computing it
    // per probe row is the trap); the brand slice broadcasts onto the
    // fact scan BEFORE the avg join, so the avg join's probe side is
    // already pruned. The threshold compare is engine-exact: integer-
    // valued quantities sum exactly in doubles, so avg = exact-sum /
    // count is bit-identical on both engines (r9 batch 12).
    "q17_small_quantity" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val perPart = li.groupBy(col("l_partkey"))
        .agg(avg(col("l_quantity")).as("aq"))
      li.select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, "l_partkey")
        .filter(col("l_quantity") < lit(0.2) * col("aq"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    },
    // TPC-H Q4-style order-priority check: the EXISTS/semi-join anchor
    // completing the subquery trio (Q17 correlated-aggregate, Q22
    // anti-join, Q4 semi-join). One LEFT SEMI join keyed by orderkey
    // with the correlated ship-after-order condition as a join-side
    // predicate — the lineitem probe never duplicates orders, so the
    // count is right without a distinct (r9 batch 16).
    "q4_order_priority" -> { (s, dir) =>
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      ord.join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
    // TPC-H Q19-style disjunctive-predicate revenue: OR-of-ANDs over
    // a fact⋈dim join. The part build side pre-filters to the UNION
    // of the disjuncts' brands (the pushdown a naive OR evaluation
    // misses — the build side shrinks before broadcast), the join
    // stays a single keyed broadcast, and the full disjunction
    // evaluates post-join in one codegen'd predicate. Sum rounds to
    // 2dp — formatting guard only (r9 batch 15).
    "q19_disjunctive_revenue" -> { (s, dir) =>
      val part = Tables.part(s, dir)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val disj =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(disj)
        .agg(sum(col("rev")).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    // TPC-H Q22-style idle high-balance customers: the scalar-subquery
    // + anti-join anchor. The positive-balance average arrives as its
    // EXACT integer-cents rational (sum, count) on a broadcast
    // single-row frame, and the threshold compare is cents·n > sum —
    // pure BIGINT, no float average to drift at any scale (balances
    // are exact cents; cents·count < 2⁶³ to ~10¹² customers). The
    // no-recent-orders test is a LEFT ANTI join against the pruned
    // orders slice — the decorrelated NOT EXISTS (r9 batch 13).
    "q22_idle_customers" -> { (s, dir) =>
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
      val pos = cust.filter(col("cents") > 0)
        .agg(sum(col("cents")).as("sc"), count(lit(1)).as("nc"))
      cust
        .crossJoin(broadcast(pos))
        .filter(col("cents") * col("nc") > col("sc"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("total_cents"))
    },
    // TPC-H Q7-style volume shipping between two nations: the
    // symmetric nation-pair join. Supplier-nation is a dim-scale
    // broadcast; the customer side at 100 TB is fact-scale, so it
    // joins KEYED on custkey (AQE free to broadcast the two-nation
    // slice at small SF); lineitem⋈orders is the one fact-fact
    // shuffle. The pair filter (supp ≠ cust within the two listed
    // nations) evaluates post-join in one codegen predicate — both
    // directions in a single pass, no UNION of two plans (r9 b18).
    "q7_nation_volume" -> { (s, dir) =>
      val nations = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val suppN = Tables.supplier(s, dir)
        .join(broadcast(nations
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val custN = Tables.customer(s, dir)
        .join(broadcast(nations
          .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"), col("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custN, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("rev")).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    // TPC-H Q14-style promo revenue share: conditional aggregation
    // ratio over a fact⋈dim broadcast join — ONE pass computes both
    // the promo slice and the total (two filtered sums in the same
    // aggregate, never two scans). The ratio is one divide of two
    // full-precision sums rounded at 6dp; per-sum ulp noise is ~1e-10
    // relative, so the rounded digit cannot flip (r9 b18).
    "q14_promo_share" -> { (s, dir) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_partkey"), rev.as("rev"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0.0)) /
            sum(col("rev")), 6).as("promo_share"),
          sum(when(col("p_type") === "PROMO", col("rev"))
            .otherwise(0.0)).as("promo_revenue"),
          sum(col("rev")).as("total_revenue"))
    },
    // TPC-H Q18-style large-volume orders: the HAVING-subquery anchor.
    // The per-order quantity total is ONE partial-agg shuffle over the
    // fact table; the survivors (a tiny slice — the threshold sits in
    // the distribution's upper tail) join back to orders KEYED by
    // orderkey, then to customer. Quantities are integer-valued, so
    // the double sum is exact and the > threshold compare cannot
    // drift. Top-k via TakeOrderedAndProject — ties on o_totalprice
    // break by orderkey, so the row set is deterministic (r9 b18).
    "q18_large_orders" -> { (s, dir) =>
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 300.0)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
    // TPC-H Q8-style market share: what fraction of a region's market
    // does one nation's supply base serve, per year? The market is
    // the customer-region slice (keyed custkey join — fact-scale at
    // 100 TB), the numerator flag is the supplier's nation (dim-scale
    // broadcast), and BOTH the share and its components come out of
    // ONE aggregate per year — the conditional-sum-ratio pattern q14
    // uses, grouped. Ratio = one divide of two full-precision sums
    // rounded 6dp (r9 b22).
    "q8_market_share" -> { (s, dir) =>
      val asiaCust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppFlag = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("snk"), col("n_name"))),
          col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), (col("n_name") === "NATION_1").as("is_n1"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppFlag), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(
          round(sum(when(col("is_n1"), col("rev")).otherwise(0.0)) /
            sum(col("rev")), 6).as("mkt_share"),
          sum(when(col("is_n1"), col("rev")).otherwise(0.0)).as("n1_revenue"),
          sum(col("rev")).as("total_revenue"),
          count(lit(1)).as("n_lines"))
    },
    // TPC-H Q6-style forecast revenue: the pure filter-aggregate
    // anchor — no join at all; its whole value is the PLAN: every
    // predicate (date range, discount band, quantity cap) must reach
    // the parquet scan as a pushed filter, and the single sum
    // partial-aggregates map-side. Completes the feasible TPC-H set
    // on this schema (r9 b25).
    "q6_forecast_revenue" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    // TPC-H Q10-style returned-item loss ranking: which customers
    // generated the most RETURNED revenue in a quarter — the
    // customer-grievance report. Same star shape as q3 (one fact-fact
    // shuffle, nation dim broadcast) with the returnflag slice pushed
    // to the fact scan and top-k via TakeOrderedAndProject,
    // custkey-tiebroken (r9 b23).
    "q10_returned_topk" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("rev")).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    // TPC-H Q15-style top supplier: the agg-vs-global-max anchor. The
    // per-supplier revenue total runs in EXACT integer units (cents ×
    // discount-percent — price and discount are exact 2dp values, so
    // the product is an exact BIGINT and sums exactly at any scale),
    // which makes the EQUALITY against the global max safe: float
    // revenue totals summed in different orders can differ in the
    // last ulp and silently drop the winner on one engine. The max is
    // one single-row broadcast frame; the formatted dollars column is
    // one divide of the exact total (r9 b19).
    "q15_top_supplier" -> { (s, dir) =>
      val revU = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      val perSupp = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revU).as("total_u"))
      val mx = perSupp.agg(max(col("total_u")).as("max_u"))
      perSupp.crossJoin(broadcast(mx))
        .filter(col("total_u") === col("max_u"))
        .join(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        // raw divide, no 2dp round: total_u is an exact multiple of
        // the 1e-4 quantum, so rounding sits exactly on half-cent
        // boundaries where engine tie-rules could differ; the single
        // IEEE divide is bit-identical and %.10g-stable
        .select(col("s_suppkey"), col("s_name"), col("total_u"),
          (col("total_u") / 10000.0).as("total_revenue"))
    },
    // TPC-H Q13-style customer order-count distribution: the outer-
    // join histogram anchor — two-level aggregation where the first
    // level shuffles fact-scale keys (per-customer order counts, the
    // LEFT join keeping zero-order customers) and the second folds to
    // the tiny count domain map-side. All integers (r9 b19).
    "q13_cust_distribution" -> { (s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
    // multi-level OLAP rollup: Spark's rollup() expands the grouping
    // sets MAP-SIDE with partial aggregation — one shuffle carries all
    // three levels; gid is the standard grouping bitmask so subtotal
    // rows are self-describing. The price sum runs in DECIMAL(18,2):
    // exact integer-cent arithmetic, so the grand-total row cannot
    // drift with float summation order on either engine. The FINAL
    // column is cast back to DECIMAL(18,2) — 64-bit on both engines
    // (Spark widens the sum to decimal(28,2), which is decimal128 in
    // Arrow, the type class the driver hashes differently; r11 lint).
    // Wrap bound: 2⁶³ cents ≈ 9·10¹⁶ units of grand total.
    "q_rollup_pricing" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("sum_price"),
          count(lit(1)).as("n_rows"))
    },
    // EXPLICIT grouping sets — the non-lattice form ROLLUP/CUBE can't
    // express: the two single-column marginals plus the grand total,
    // WITHOUT the (flag, status) pair level. Same single-shuffle
    // Expand shape (3 replicas instead of CUBE's 4 — the planner
    // expands exactly the requested sets); quantities are integral
    // doubles, so the sums are exact on both engines (r11).
    "q_grouping_sets" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    },
    // CUBE — the full grouping-sets lattice (ROLLUP's 3 levels plus
    // the column-wise marginals ROLLUP omits): same single-shuffle
    // Expand shape as q_rollup_pricing, 4 grouping sets instead of
    // 3, gid bitmask self-describing, DECIMAL sums exact (r9 b36).
    "q_cube_pricing" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("sum_price"),
          count(lit(1)).as("n_rows"))
    },
    // ratio-to-group window over the fact table: each line's share of
    // its order's revenue — ONE order-keyed shuffle, linear window
    // pass per partition. The share rounds to 6dp because the window
    // sum's float accumulation order is engine-specific; at 1e-6 the
    // per-partition ulp noise cannot flip the rounded digit.
    "q_window_share" -> { (s, dir) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      import org.apache.spark.sql.expressions.Window
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), rev.as("rev"))
        .withColumn("share", round(col("rev") /
          sum(col("rev")).over(Window.partitionBy(col("l_orderkey"))), 6))
    },
    // top-k PER GROUP — the rank-window anchor (global top-k heaps
    // via TakeOrdered; per-group top-k is its windowed sibling): the
    // fact table folds to per-(flag, part) sums FIRST (partial-agg
    // fact shuffle), so the rank window runs over the metadata-scale
    // rollup — never over raw fact rows; deterministic via the part
    // tiebreak; sums exact (integral-double quantities cast long).
    "q_topk_per_group" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pq = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_partkey"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("qty").desc, col("l_partkey"))
      pq.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
    },
    // pivot (crosstab) — the wide-report anchor: per-returnflag rows,
    // one column pair per linestatus. The value list is EXPLICIT, so
    // Spark skips the extra distinct-collect pass a bare pivot() runs
    // (at 100 TB the pivot domain is catalog knowledge, not something
    // to discover from the fact table), and the whole thing stays one
    // partial-agg shuffle — the Expand the rollup key uses, sideways.
    // Sums in DECIMAL(18,2) — exact cents, no float summation drift.
    "q_pivot_status" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("price"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("F_price").as("f_price"),
          // an empty pivot cell is NULL under PivotFirst even for
          // count; SQL's count(CASE …) says 0 — normalize the counts
          coalesce(col("F_n"), lit(0L)).as("f_n"),
          col("O_price").as("o_price"),
          coalesce(col("O_n"), lit(0L)).as("o_n"))
    },
    // ---- r10: the six remaining TPC-H plan shapes, ADAPTED ---------
    // The driver schema has no partsupp / l_shipmode / commit-receipt
    // dates, so Q2/Q9/Q11/Q16/Q20/Q21 run on lineitem-derived
    // surrogates (observed part×supplier offers instead of partsupp,
    // ship-lag instead of receipt-lag). What each key preserves is the
    // PLAN SHAPE the original exercises — that is what the optimizer
    // and the 100 TB posture care about.

    // TPC-H Q2 shape: correlated MIN subquery, decorrelated. The
    // per-(part, supplier) min unit price is one fact-scale partial-agg
    // shuffle over the doubly-broadcast-pruned lineitem slice (region
    // suppliers AND sized parts prune BEFORE the shuffle); the
    // per-part global min is a second agg over that metadata-scale
    // frame; the "= min" correlation is an equi-join back on
    // (part, min). Double equality is safe: min picks one of the
    // group's own values bitwise, and each unit price is a single
    // per-row division both engines perform identically.
    "q2_min_cost_supplier" -> { (s, dir) =>
      val euSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val pa = Tables.part(s, dir)
        .filter(col("p_type") === "STANDARD" && col("p_size") <= 10)
        .select(col("p_partkey"))
      val offers = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit"))
        .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
        .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"), col("s_name"))
        .agg(min(col("unit")).as("unit"))
      val minPer = offers.groupBy(col("l_partkey")).agg(min(col("unit")).as("mu"))
      offers.join(minPer, Seq("l_partkey"))
        .filter(col("unit") === col("mu"))
        .select(col("l_partkey").as("p_partkey"),
          col("l_suppkey").as("s_suppkey"), col("s_name"),
          col("unit").as("min_unit"))
    },
    // TPC-H Q9 shape: the profit rollup — a 4-way fact⋈dim join
    // grouped by (supplier nation, order year). Cost surrogate:
    // 0.6·p_retailprice per unit (no ps_supplycost in the schema).
    // part and supplier→nation broadcast; lineitem⋈orders is the one
    // fact-fact shuffle; the group-by is a partial-agg fold. Profit
    // in EXACT 1e-4 units: ext·(1−disc) = cents·(100−disc_pct)/1e4
    // and 0.6·retail·qty = 60·retail_cents·qty/1e4 are both integers
    // there, so the sum can never ulp-drift between engines (a raw
    // double sum flipped the %.10g boundary at sf0.01 — observed).
    // Sum carried INTERNALLY in DECIMAL(38,0); the FINAL column is
    // cast to BIGINT because a decimal128 output hash-flips the
    // driver's Arrow canonicalization (r10 red row). Per-row ~1e9,
    // so 2⁶³ wraps only past ~10¹⁰ lineitem rows per (nation, year).
    "q9_profit_by_nation_year" -> { (s, dir) =>
      val pa = Tables.part(s, dir).filter(col("p_type") === "PROMO")
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("retail_cents"))
      val suppN = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.lineitem(s, dir)
        .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum((round(col("l_extendedprice") * 100).cast("long") *
            round((lit(1.0) - col("l_discount")) * 100).cast("long") -
            lit(60L) * col("retail_cents") * col("l_quantity").cast("long"))
          .cast("decimal(38,0)")).cast("long").as("sum_profit_e4"))
    },
    // TPC-H Q11 shape: group-agg + global-fraction HAVING via a scalar
    // subquery. Value surrogate: lineitem revenue cents from NATION_3
    // suppliers (no ps_availqty·supplycost). EXACT integer cents on
    // both sides so the threshold compare can never ulp-flip a row:
    // value·1000 > total is pure BIGINT (total < 2⁶³ to ~10¹⁴ cents).
    // The total arrives as a broadcast single-row frame — the
    // decorrelated scalar subquery, same shape as q22's average.
    "q11_important_parts" -> { (s, dir) =>
      val su = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === "NATION_3").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val perPart = Tables.lineitem(s, dir)
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("value_cents"))
      val total = perPart.agg(sum(col("value_cents")).as("total_cents"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_cents") * 1000 > col("total_cents"))
        .select(col("p_partkey"), col("value_cents"))
    },
    // TPC-H Q16 shape: COUNT(DISTINCT supplier) per part descriptor
    // over the distinct part×supplier pair relation, with a NOT-IN
    // supplier exclusion (surrogate: negative account balance — the
    // schema carries no comment column). The pair distinct is the one
    // fact-scale shuffle; part attributes broadcast onto the pairs;
    // the exclusion is a broadcast anti-join; the final distinct-agg
    // partial-aggregates.
    "q16_supplier_variety" -> { (s, dir) =>
      val pa = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 36))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
    // TPC-H Q20 shape: nested semi-join chain — suppliers qualified by
    // an aggregate over their own shipments. Availability surrogate:
    // a supplier "dominates" a PROMO part when it shipped more than
    // half that part's 1996 volume (no ps_availqty). Quantities are
    // integer-valued, so the 2·qs > qt compare is exact in BIGINT.
    // ASIA suppliers semi-join the dominant set — no fact columns
    // survive past the per-(part, supplier) fold.
    "q20_top_shippers" -> { (s, dir) =>
      val pa = Tables.part(s, dir).filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val perPS = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("qs"))
      val perP = perPS.groupBy(col("l_partkey")).agg(sum(col("qs")).as("qt"))
      val dom = perPS.join(perP, Seq("l_partkey"))
        .filter(col("qs") * 2 > col("qt"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    },
    // TPC-H Q12 shape (ADAPTED — no shipmode/receipt dates: classes
    // are ship-lag buckets, late := > 90 days after order date): the
    // conditional-aggregation anchor — sum-of-CASE pivots the
    // priority split inside ONE partial-agg pass after the one
    // fact-fact join, no per-class scans.
    "q12_priority_lateness" -> { (s, dir) =>
      val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS"), "late")
          .otherwise("ontime").as("lateness"))
        .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
    },
    // TPC-H Q21 shape: the double-correlated EXISTS / NOT-EXISTS
    // anti-join — the hardest subquery shape in the suite. "Late" is
    // ship-lag > 60 days after order date (no receipt/commit dates).
    // Both correlations decorrelate to distinct (order, supplier)
    // pair frames: EXISTS(another supplier) is a left-semi with a
    // suppkey inequality, NOT EXISTS(another LATE supplier) a
    // left-anti on the late pairs — each one keyed shuffle on
    // orderkey, no correlated re-execution.
    "q21_late_sole_supplier" -> { (s, dir) =>
      val fOrders = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      val allPairs = li.select(col("l_orderkey"), col("l_suppkey")).distinct()
      val latePairs = li
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val n1Supp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === "NATION_1").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val cand = latePairs
        .join(broadcast(n1Supp), col("l_suppkey") === col("s_suppkey"))
      cand.join(allPairs.toDF("ok2", "sk2"),
          col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"),
          "left_semi")
        .join(latePairs.toDF("ok3", "sk3"),
          col("l_orderkey") === col("ok3") && col("l_suppkey") =!= col("sk3"),
          "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.rdf.RdfQueries.oracle ++
      graft.sparql.SparqlQueries.oracle ++
      graft.inference.InferenceQueries.oracle ++
      graft.graphx.GraphQueries.oracle ++
      graft.pipeline.PipelineQueries.oracle ++
      relationalOracle

  private def relationalOracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_topk" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name, sum(l_extendedprice * (1.0 - l_discount)) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q17_small_quantity" ->
      """SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN (SELECT l_partkey, avg(l_quantity) AS aq
        |      FROM lineitem GROUP BY l_partkey) a
        |  ON a.l_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.2 * a.aq""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_idle_customers" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |p AS (SELECT sum(cents) AS sc, count(*) AS nc FROM c
        |  WHERE cents > 0)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM c, p
        |WHERE cents * nc > sc
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY c_mktsegment""".stripMargin,
    "q7_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation sn ON sn.n_nationkey = s_nationkey
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name <> cn.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q14_promo_share" ->
      """SELECT round(100.0 *
        |    sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) /
        |    sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_share,
        |  sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |    AS promo_revenue,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS total_revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  t.total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 300.0) t
        |  ON o_orderkey = t.l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_1'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) /
        |    sum(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share,
        |  sum(CASE WHEN sn.n_name = 'NATION_1'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |    AS n1_revenue,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS total_revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = cn.n_regionkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT sum(l_extendedprice * l_discount) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q10_returned_topk" ->
      """SELECT c_custkey, c_name, n_name,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q15_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l_discount * 100) AS BIGINT))) AS total_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_u AS BIGINT) AS total_u,
        |  total_u / 10000.0 AS total_revenue
        |FROM r JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_u = (SELECT max(total_u) FROM r)""".stripMargin,
    "q13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_custkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q_rollup_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DECIMAL(18,2)) AS sum_price,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "q_cube_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DECIMAL(18,2)) AS sum_price,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_window_share" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS rev,
        |  round(l_extendedprice * (1.0 - l_discount) /
        |    sum(l_extendedprice * (1.0 - l_discount))
        |      OVER (PARTITION BY l_orderkey), 6) AS share
        |FROM lineitem""".stripMargin,
    "q_topk_per_group" ->
      """WITH pq AS (SELECT l_returnflag, l_partkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, l_partkey, qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY qty DESC, l_partkey) AS rk
        |  FROM pq)
        |SELECT l_returnflag, l_partkey, qty, rk FROM r WHERE rk <= 3""".stripMargin,
    // pivot = conditional aggregation; empty cells are NULL sums but
    // 0 counts on both engines
    "q_pivot_status" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
        |    AS DECIMAL(18,2)) AS f_price,
        |  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_n,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
        |    AS DECIMAL(18,2)) AS o_price,
        |  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH su AS (SELECT s_suppkey, s_name FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |pa AS (SELECT p_partkey FROM part
        |       WHERE p_type = 'STANDARD' AND p_size <= 10),
        |off AS (SELECT l_partkey, l_suppkey, s_name,
        |          min(l_extendedprice / l_quantity) AS unit
        |        FROM lineitem
        |        JOIN pa ON l_partkey = p_partkey
        |        JOIN su ON l_suppkey = s_suppkey
        |        GROUP BY 1, 2, 3),
        |m AS (SELECT l_partkey, min(unit) AS mu FROM off GROUP BY 1)
        |SELECT o.l_partkey AS p_partkey, o.l_suppkey AS s_suppkey,
        |       o.s_name, o.unit AS min_unit
        |FROM off o JOIN m ON o.l_partkey = m.l_partkey AND o.unit = m.mu""".stripMargin,
    "q9_profit_by_nation_year" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
        |           * CAST(round((1.0 - l_discount) * 100) AS BIGINT)
        |         - 60 * CAST(round(p_retailprice * 100) AS BIGINT)
        |              * CAST(l_quantity AS BIGINT))
        |    AS BIGINT) AS sum_profit_e4
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "q11_important_parts" ->
      """WITH su AS (SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_3'),
        |pp AS (SELECT l_partkey AS p_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |           AS BIGINT) AS value_cents
        |       FROM lineitem JOIN su ON l_suppkey = s_suppkey
        |       GROUP BY 1),
        |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS tc FROM pp)
        |SELECT p_partkey, value_cents FROM pp, t
        |WHERE value_cents * 1000 > tc""".stripMargin,
    "q16_supplier_variety" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand != 'Brand#5' AND p_type != 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 36)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q20_top_shippers" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |         CAST(sum(l_quantity) AS BIGINT) AS qs
        |       FROM lineitem
        |       JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |         AND l_shipdate < TIMESTAMP '1997-01-01'
        |       GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, CAST(sum(qs) AS BIGINT) AS qt
        |       FROM ps GROUP BY 1),
        |dom AS (SELECT DISTINCT l_suppkey FROM ps
        |        JOIN pt USING (l_partkey) WHERE qs * 2 > qt)
        |SELECT s_suppkey, s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)""".stripMargin,
    "q12_priority_lateness" ->
      """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |    THEN 'late' ELSE 'ontime' END AS lateness,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q21_late_sole_supplier" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       WHERE o_orderstatus = 'F'),
        |ap AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li),
        |lp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li
        |       WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
        |n1 AS (SELECT s_suppkey, s_name FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey
        |       WHERE n_name = 'NATION_1'),
        |cand AS (SELECT lp.l_orderkey, lp.l_suppkey, n1.s_name
        |         FROM lp JOIN n1 ON lp.l_suppkey = n1.s_suppkey
        |         WHERE EXISTS (SELECT 1 FROM ap
        |                       WHERE ap.l_orderkey = lp.l_orderkey
        |                         AND ap.l_suppkey != lp.l_suppkey)
        |           AND NOT EXISTS (SELECT 1 FROM lp lp2
        |                           WHERE lp2.l_orderkey = lp.l_orderkey
        |                             AND lp2.l_suppkey != lp.l_suppkey))
        |SELECT s_name, count(*) AS numwait FROM cand
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
  )
}
