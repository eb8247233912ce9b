package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that throws is reported in "errors"
  * with value -1 in "queries" — never folded into the total as if it
  * were a timing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(32)
    Harness.warm(spark, sfDir)
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      }
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.benchQueries.foreach { name =>
      if (!SparkEntry.queries.contains(name)) {
        // a renamed/unregistered headline query must not silently
        // shrink the benchmark
        timings(name) = -1.0
        errors(name) = "not in SparkEntry.queries"
      } else {
        try timings(name) = Harness.timeKey(spark, sfDir, name, blocking = false)
        catch {
          case e: Throwable =>
            timings(name) = -1.0
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
    }
    val qs = timings.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val total = timings.values.filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"n_err":${errors.size},"sf":"${esc(sfDir)}"}"""
    // stable per-run artifact: round-over-round comparison reads this
    // file instead of scraping sbt output tails; path overridable so
    // concurrent runs don't clobber each other (file is gitignored)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "bench_latest.json")), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    // the JSON must be the LAST stdout line and nothing may interleave
    // with it (BENCH_r10's driver capture truncated it mid-object):
    // silence logging and stop Spark — with its shutdown chatter —
    // BEFORE the single print, then flush explicitly for the forked-JVM
    // exit path
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(line)
    // the driver's capture keeps only the LAST ~2000 chars of stdout,
    // which has truncated the full line's head every round (BENCH_r*
    // "parsed": null since r1) — so the FINAL line is a compact
    // summary sized to survive that window: totals + per-key seconds
    // rounded to ms, heaviest keys first, adding keys only while the
    // line stays under budget ("q_more" counts what was dropped; the
    // full detail is always in the bench_latest.json artifact)
    val budget = 1800
    val rounded = timings.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""${esc(k)}":${math.round(v * 1000) / 1000.0}""" }
    val head = s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},""" +
      s""""unit":"sec","n_keys":${timings.size},"n_err":${errors.size},""" +
      s""""sf":"${esc(sfDir)}","artifact":"bench_latest.json","queries":{"""
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var len = head.length + 30 // closing braces + q_more field
    rounded.foreach { r =>
      if (len + r.length + 1 <= budget) { kept += r; len += r.length + 1 }
    }
    println(head + kept.mkString(",") +
      s"""},"q_more":${rounded.size - kept.size}}""")
    System.out.flush()
  }
}
