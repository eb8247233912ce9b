package graft
import org.apache.spark.sql.SparkSession

/** Isolated re-measurement: run the named queries N times in ONE warm
  * JVM and print per-key medians. The box this builds on swings
  * same-code timings up to 3× run-to-run, so the standing methodology
  * is: never tune from a single Bench run — re-measure the suspect
  * keys here and only trust deltas that reproduce.
  *
  * Usage: runMain graft.BenchOne key1,key2[,key3…] [repeats]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(',').toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    keys.foreach { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        graft.Checkpoints.releaseCaches()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val median = times(times.length / 2)
      println(f"[benchone] $name median=$median%.3f " +
        s"runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
