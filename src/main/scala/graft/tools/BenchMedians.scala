package graft.tools

/** Per-round bench denoiser (VERDICT r9 task #5): re-measure the N
  * heaviest keys of the latest full Bench sweep with warm 3-rep
  * medians, in ONE command, and write the table beside the sweep
  * artifact. The box swings same-code timings up to 3× run-to-run, so
  * every round so far has re-litigated phantom regressions by hand
  * (r7 LPA, r8 text_quality_score, r9 bm25) — this main is that
  * ad-hoc re-measurement ritual made systematic and checked in.
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

    val spark = graft.Harness.session(32)
    graft.Harness.warm(spark, sfDir)

    val rows = keys.map { case (name, sweepSec) =>
      val runs = (1 to reps).map(_ =>
        graft.Harness.timeKey(spark, sfDir, name, blocking = true)).sorted
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
