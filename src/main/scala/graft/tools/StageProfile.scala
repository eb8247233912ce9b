package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Empirical stage profile (guide §1.1/§7 with the UI disabled): run a
  * key warm, then once more under a listener that records per-stage
  * wall time, task count, and shuffle/input volumes — the "which stage
  * is slow" answer the Spark UI would give, as text.
  *
  * Usage: runMain graft.tools.StageProfile <key> [sfDir] [warmups]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warmups = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def once(): Unit = {
      graft.SparkEntry.queries(key)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      graft.Checkpoints.releaseCaches()
    }
    (1 to warmups).foreach(_ => once())

    final case class St(id: Int, name: String, ms: Long, tasks: Int,
                        inMb: Double, srMb: Double, swMb: Double,
                        outRows: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages += St(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          ms, si.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6 +
            m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.outputMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    once()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    println(f"[profile] $key total=$sec%.3f s, ${stages.size} stages")
    stages.sortBy(-_.ms).take(25).foreach { s =>
      println(f"[profile] ${s.ms}%7d ms  ${s.tasks}%4d tasks  " +
        f"in=${s.inMb}%8.1f MB  sr=${s.srMb}%8.1f MB  sw=${s.swMb}%8.1f MB  " +
        s"stage ${s.id} ${s.name}")
    }
    println(f"[profile] stage-ms sum=${stages.map(_.ms).sum}")
    spark.stop()
  }
}
