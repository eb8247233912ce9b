package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-round bench denoiser (VERDICT r9 task #5): re-measure the N
  * heaviest keys of the latest full Bench sweep with warm 3-rep
  * medians, in ONE command, and write the table beside the sweep
  * artifact. The box swings same-code timings up to 3× run-to-run, so
  * every round so far has re-litigated phantom regressions by hand
  * (r7 LPA, r8 text_quality_score, r9 bm25) — this main is that
  * ad-hoc BenchOne ritual made systematic and checked in.
  *
  * Usage: runMain graft.tools.BenchMedians [benchJson] [topN] [reps]
  *   benchJson defaults to bench_latest.json (written by graft.Bench);
  *   the N slowest keys in its "queries" map are re-measured.
  * Output: one JSON line + bench_medians_latest.json
  *   (override with SPARK_GRAFT_MEDIANS_OUT).
  */
object BenchMedians {

  /** Extract the {"key":sec,...} pairs of the "queries" object from a
    * Bench JSON line without a JSON library (keys are benchmark names,
    * never containing quotes or braces).
    */
  private[tools] def parseQueries(json: String): Seq[(String, Double)] = {
    val start = json.indexOf("\"queries\":{")
    require(start >= 0, "no \"queries\" object in bench JSON")
    val body = json.substring(start + "\"queries\":{".length,
      json.indexOf('}', start))
    """"([^"]+)":(-?[0-9.eE+]+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
  }

  def main(args: Array[String]): Unit = {
    val benchJson = if (args.nonEmpty) args(0) else "bench_latest.json"
    // default selection (r12 task #6): every key whose sweep reading
    // exceeds 2 s — the set where box noise actually moves verdicts —
    // instead of a fixed top-10; an explicit topN still overrides
    val topN = if (args.length > 1) Some(args(1).toInt) else None
    val reps = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val sweep = parseQueries(
      java.nio.file.Files.readString(java.nio.file.Paths.get(benchJson)))
    val ranked = sweep.filter(_._2 >= 0).sortBy(-_._2)
    val keys = topN match {
      case Some(n) => ranked.take(n)
      case None =>
        val over = ranked.takeWhile(_._2 > 2.0)
        if (over.nonEmpty) over
        else {
          // a fast sweep (small SF) leaves the >2 s set empty — still
          // produce medians for the heaviest few instead of silently
          // running and reporting nothing
          System.err.println(
            "[medians] no sweep reading exceeds 2 s — falling back to top-8")
          ranked.take(8)
        }
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    // same scratch-layout warmup as Bench: the BGP keys' first use
    // otherwise pays the store-build parquet write inside a timing
    try {
      graft.rdf.TripleStore.partitionedTriples(spark, sfDir)
      graft.rdf.TripleStore.bucketedTriples(spark, sfDir)
      graft.rdf.TripleStore.evictTriples(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[medians] layout warmup failed: ${e.getMessage}")
    }

    val rows = keys.map { case (name, sweepSec) =>
      val runs = (1 to reps).map { _ =>
        // rdf_build_triples MEASURES the cold store derivation (the
        // sweep evicts after layout warmup so its first caller pays
        // it); a warm rep here would read the cache and report 0.08 s
        // against the sweep's 9.8 s — evict before each rep of that
        // key so the median measures the same regime. Every other rdf
        // key runs store-warm in the sweep and stays warm here.
        if (name == "rdf_build_triples")
          try graft.rdf.TripleStore.evictTriples(spark, sfDir)
          catch { case _: Throwable => () }
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // cleanup runs BETWEEN reps, outside the timed region — and
        // BLOCKING, so rep N's async removal backlog can't pressure
        // rep N+1's checkpoints into disk spills (the r16 LPA-spread
        // adjudication: non-blocking drains tripled later reps)
        graft.Checkpoints.releaseCaches(blocking = true)
        dt
      }.sorted
      val median = runs(runs.length / 2)
      println(f"[medians] $name sweep=$sweepSec%.2f median=$median%.2f " +
        s"runs=${runs.map(t => f"$t%.2f").mkString(",")}")
      s""""$name":{"sweep":$sweepSec,"median":$median,""" +
        s""""runs":[${runs.map(t => f"$t%.3f").mkString(",")}]}"""
    }
    val line = s"""{"metric":"bench_medians","sf":"$sfDir","reps":$reps,""" +
      s""""keys":{${rows.mkString(",")}}}"""
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_MEDIANS_OUT",
        "bench_medians_latest.json")), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[medians] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
