package graft.tools

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._

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
    val spark = graft.Harness.session(32)
    graft.Harness.warm(spark, sfDir)
    (1 to warmups).foreach(_ =>
      graft.Harness.timeKey(spark, sfDir, key, blocking = false))

    final case class St(id: Int, name: String, ms: Long, tasks: Int,
                        inMb: Double, srMb: Double, swMb: Double,
                        outRows: Long)
    // appended on the listener-bus thread, read on this one
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages.add(St(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          ms, si.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6 +
            m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.outputMetrics.recordsWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val sec = graft.Harness.timeKey(spark, sfDir, key, blocking = false)
    // the bus is asynchronous: without the drain the last stages'
    // events can arrive after the listener is removed
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val done = stages.asScala.toSeq
    println(f"[profile] $key total=$sec%.3f s, ${done.size} stages")
    done.sortBy(-_.ms).take(25).foreach { s =>
      println(f"[profile] ${s.ms}%7d ms  ${s.tasks}%4d tasks  " +
        f"in=${s.inMb}%8.1f MB  sr=${s.srMb}%8.1f MB  sw=${s.swMb}%8.1f MB  " +
        s"stage ${s.id} ${s.name}")
    }
    println(f"[profile] stage-ms sum=${done.map(_.ms).sum}")
    spark.stop()
  }
}
