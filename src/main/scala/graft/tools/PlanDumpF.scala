package graft.tools

/** Batch `.explain("formatted")` capture for the optimization-round
  * plan evidence (plans/r19/<key>_<suffix>.txt), on Bench's session so
  * the captured plans are the plans the bench runs.
  *
  * {{{ sbt "runMain graft.tools.PlanDumpF key1,key2 <sfDir> <outDir> <suffix>" }}}
  */
object PlanDumpF {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "plans/r19"
    val suffix = if (args.length > 3) args(3) else "after"
    val spark = graft.Harness.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      try {
        val df = graft.SparkEntry.queries(k)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${k}_$suffix.txt"), txt)
        println(s"[plandump] wrote $outDir/${k}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $k FAILED: ${e.getMessage}")
      } finally {
        graft.Checkpoints.releaseCaches()
      }
    }
    spark.stop()
  }
}
