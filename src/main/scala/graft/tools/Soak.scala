package graft.tools

/** One-command scale soak: generate the synthetic tables at the
  * requested multiple of sf0.1 (skipped if already present) and run
  * the soak key set isolated-and-warm in this JVM, printing one
  * per-key line plus a final JSON summary — the reproducible form of
  * the r8 hand-driven sf1/sf10 soaks (SURVEY §8 r8.7/r8.13).
  *
  * Usage:
  *   runMain graft.tools.Soak <dataDir> <times10> [keys] [reps]
  * `keys` is a comma list, `bench` (the full benched set) or
  * `heaviest` (the slowest keys of the last `graft.Bench` sweep, see
  * [[heaviest]]); omitted, the [[defaultKeys]].
  * e.g. sf10, default keys, 1 rep (the forked JVM's heap defaults to
  * half the box's memory, at most 48g, via build.sbt — override with
  * SPARK_DRIVER_MEM):
  *   sbt "runMain graft.tools.Soak target/sf10 100"
  * or warm 3-rep medians of the heaviest sweep keys, the denoised
  * re-measurement of a noisy sweep:
  *   sbt "runMain graft.tools.Soak <sfDir> 1 heaviest 3"
  *
  * Timings here measure SCALE SHAPE (ratio vs the sf0.1 bench), not
  * correctness — the DuckDB oracle still gates at sf0.01.
  * Per-key medians compare only across runs with the identical key
  * list, because a key's time depends on the keys run before it in
  * the same JVM: at sf0.1 `infer_nodes_in_category` read 0.8 s after
  * four other inference keys and 3.3 s alone.
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

  /** The keys of a Bench sweep (`bench_latest.json`) that read over
    * 2 s, slowest first — the set where box noise moves verdicts — or,
    * when a fast sweep (small SF) leaves that set empty, its 8 slowest
    * keys. Failed keys (-1) never qualify. The sweep's "queries" object
    * is read without a JSON library: its keys are benchmark names,
    * never containing quotes or braces.
    */
  private def heaviest(benchJson: String): Seq[String] = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(benchJson))
    val start = json.indexOf("\"queries\":{")
    require(start >= 0, "no \"queries\" object in bench JSON")
    val body = json.substring(start + "\"queries\":{".length,
      json.indexOf('}', start))
    val ranked = """"([^"]+)":(-?[0-9.eE+]+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
      .filter(_._2 >= 0).sortBy(-_._2)
    val over = ranked.takeWhile(_._2 > 2.0)
    (if (over.nonEmpty) over else ranked.take(8)).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val times10 = if (args.length > 1) args(1).toInt else 10
    // "bench" soaks the FULL benched key set (r9 task #7: the three
    // real r9 scale cliffs all came from soaks — widen the net past
    // the hand-picked representatives)
    val keys = args.lift(2).getOrElse("") match {
      case "" => defaultKeys
      case "bench" => graft.SparkEntry.benchQueries
      case "heaviest" => heaviest("bench_latest.json")
      case list => list.split(',').toSeq
    }
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
