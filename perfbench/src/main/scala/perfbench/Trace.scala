package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval at a layer boundary. `counts` holds what the
  * listener attributed to the span's own job group plus any attribute
  * the benchmark measured inside it (plan size, result rows, bytes).
  */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
                 val startNs: Long) {
  var endNs: Long = startNs
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

/** Listener-side counters of one job group. */
final class GroupCounts {
  var jobsStarted = 0L
  var jobsEnded = 0L
  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var gcMs = 0L
  var inputB = 0L

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobsStarted, "jobs_ended" -> jobsEnded, "stages" -> stages,
    "tasks" -> tasks, "task_busy_ms" -> taskBusyMs,
    "shuffle_write_b" -> shuffleWriteB, "shuffle_read_b" -> shuffleReadB,
    "spill_b" -> spillB, "gc_ms" -> gcMs, "input_b" -> inputB)
    .map { case (k, v) => k -> v.toDouble }
}

/** Attributes jobs, stages and tasks to the job group that submitted
  * them. Job starts carry the group in their properties; stages and
  * tasks inherit it through the job's stage ids.
  */
final class GroupListener extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupCounts]()

  private def acc(g: String): GroupCounts =
    groups.computeIfAbsent(g, _ => new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(stageGroup.put(_, g))
      acc(g).synchronized(acc(g).jobsStarted += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      acc(g).synchronized(acc(g).jobsEnded += 1)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      acc(g).synchronized(acc(g).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = acc(g)
      c.synchronized {
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskBusyMs += m.executorRunTime
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
          c.inputB += m.inputMetrics.bytesRead
        }
      }
    }

  /** Removes and returns the counters of every group with `prefix`. */
  def take(prefix: String): Map[String, GroupCounts] = {
    val keys = groups.keySet().asScala.filter(_.startsWith(prefix)).toList
    keys.flatMap(k => Option(groups.remove(k)).map(k -> _)).toMap
  }
}

/** Span recorder. Off, every method is a pass-through, so an untraced
  * operation makes the same calls into graft as a traced one. Enabled,
  * each span runs under its own job group so the listener can charge
  * the span with the jobs it fired; counts are read only after the
  * listener bus has drained.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var op = -1
  private val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  private def group(s: Span) = s"op${s.op}/${s.id}"

  /** Starts attributing spans and jobs to operation `id`. */
  def beginOp(id: Int): Unit = op = id

  /** Whether spans are recorded now; the traced run switches it per
    * round to measure tracing overhead against untraced rounds.
    */
  var on: Boolean = enabled

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        op, name, System.nanoTime() - origin)
      spans += s
      stack = s :: stack
      sc.setJobGroup(group(s), name)
      try body
      finally {
        s.endNs = System.nanoTime() - origin
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Records a measured attribute on the innermost open span. */
  def note(key: String, value: => Double): Unit =
    if (on) stack.headOption.foreach(_.counts(key) = value)

  /** Drains the listener bus and moves the operation's group counters
    * onto its spans; `jobs` and `jobs_ended` differ on a span only if
    * a job's end was never delivered.
    */
  def endOp(): Unit =
    if (on) {
      org.apache.spark.perfbench.BusDrain.drain(sc)
      listener.take(s"op$op/").foreach { case (g, c) =>
        val id = g.substring(g.indexOf('/') + 1).toInt
        c.fields.foreach { case (k, v) => spans(id).counts(k) = v }
      }
    }

  def all: Seq[Span] = spans.toSeq
}
