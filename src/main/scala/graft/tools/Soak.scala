package graft.tools

/** One-command scale soak: generate the synthetic tables at the
  * requested multiple of sf0.1 (skipped if already present) and run
  * the soak key set isolated-and-warm in this JVM, printing one
  * per-key line plus a final JSON summary — the reproducible form of
  * the r8 hand-driven sf1/sf10 soaks (SURVEY §8 r8.7/r8.13).
  *
  * Usage:
  *   runMain graft.tools.Soak <dataDir> <times10> [keys] [reps]
  * e.g. sf10, default keys, 1 rep (the forked JVM already defaults to
  * -Xmx48g via build.sbt — override with SPARK_DRIVER_MEM):
  *   sbt "runMain graft.tools.Soak target/sf10 100"
  *
  * Timings here measure SCALE SHAPE (ratio vs the sf0.1 bench), not
  * correctness — the DuckDB oracle still gates at sf0.01.
  */
object Soak {

  /** The keys the r8 soaks tracked: one representative per heavy
    * family (store build, dedup exact/banded/minhash, ANN, events,
    * curriculum sampling, GraphX CC, sameAs closure, sketch, BM25).
    */
  val defaultKeys: Seq[String] = Seq(
    "q1_agg", "rdf_build_triples", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_gated",
    "ann_pq_topk", "events_window_agg", "data_curriculum",
    "graph_connected_components", "infer_sameas_canon",
    "sketch_hll_distinct", "text_bm25_topk",
    // r9 additions: substring/paragraph dedup and the SCC peel
    "dedup_dup_spans", "dedup_paragraphs", "graph_scc",
    // r9 batches 4-8: register-merge sketch, fact-table window,
    // skip-gram expansion — one representative per new shape
    "sketch_hll_overlap", "q_window_share", "text_window_cooc",
    // r10: the weighted wedge join (gated), the corpus-gram shuffle
    // semi-join, the inverted-index df fold, and the label-blocked
    // exact embedding sweep — the round's heavy new shapes
    "graph_resource_alloc", "data_split_contamination",
    "dedup_shingle_df_profile", "dedup_embedding_sweep")

  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val times10 = if (args.length > 1) args(1).toInt else 10
    // "bench" soaks the FULL benched key set (r9 task #7: the three
    // real r9 scale cliffs all came from soaks — widen the net past
    // the hand-picked representatives)
    val keys =
      if (args.length > 2 && args(2) == "bench") graft.SparkEntry.benchQueries
      else if (args.length > 2 && args(2).nonEmpty) args(2).split(',').toSeq
      else defaultKeys
    val reps = if (args.length > 3) args(3).toInt else 1
    val spark = graft.Harness.session(32)

    if (!new java.io.File(s"$dataDir/lineitem.parquet").exists()) {
      System.err.println(s"[soak] generating sf${times10 / 10.0} data at $dataDir")
      val t0 = System.nanoTime()
      GenData.write(spark, dataDir, times10)
      System.err.println(f"[soak] generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else System.err.println(s"[soak] reusing data at $dataDir")

    // its own line, so every per-key number below is per-operator truth
    val warmupSec = graft.Harness.warm(spark, dataDir)
    println(f"[soak] warmup (JVM + store build + cache) $warmupSec%.1f s")
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    keys.foreach { name =>
      val runs = (1 to reps).flatMap { _ =>
        try Some(graft.Harness.timeKey(spark, dataDir, name, blocking = true))
        catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            None
        }
      }.sorted
      if (runs.nonEmpty) {
        timings(name) = runs(runs.length / 2)
        println(f"[soak] $name median=${timings(name)}%.1f " +
          s"runs=${runs.map(t => f"$t%.1f").mkString(",")}")
      } else println(s"[soak] $name FAILED: ${errors(name)}")
    }
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString
    }
    val qs = timings.map { case (k, v) => s""""${esc(k)}":$v""" }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"soak","sf":${times10 / 10.0},""" +
      f""""warmup_sec":$warmupSec%.1f,"queries":$qs,""" +
      s""""errors":$es,"n_err":${errors.size}}""")
    spark.stop()
  }
}
