package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of intermediate storage: every localCheckpoint,
  * persist and cached graph the library makes is registered here, and
  * [[releaseCaches]] is the one release. The one earlier release is a
  * fixpoint loop's superseded generation, which [[Generation.advance]]
  * drops; no caller holds an RDD handle.
  *
  * Caller contract: release once the returned DataFrames are consumed,
  * never mid-flight. The registry is process-global, so a release
  * while another query on the same process is running evicts that
  * query's blocks too: a dropped persist recomputes, correctly but
  * slowly; a dropped localCheckpoint cannot, its lineage is cut.
  * Measurement loops pass `blocking = true`; operators keep the
  * non-blocking default.
  */
object Checkpoints {

  private val releases =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[Boolean => Unit]())

  /** Register `value` with the call that releases it (given the
    * caller's `blocking`); returns `value`. For GraphX graphs, whose
    * constructors and algorithms cache their vertex/edge RDDs
    * internally.
    */
  def track[T](value: T)(release: (T, Boolean) => Unit): T = {
    releases.add(blocking => release(value, blocking))
    value
  }

  /** MEMORY_AND_DISK persist, for intermediates several plan branches
    * reuse.
    */
  def persisted(df: DataFrame): DataFrame =
    track(df.persist(StorageLevel.MEMORY_AND_DISK))(_.unpersist(_))

  /** [[persisted]] for RDDs (GraphX edge sets). */
  def persisted[T](rdd: RDD[T]): RDD[T] =
    track(rdd.persist(StorageLevel.MEMORY_AND_DISK))(_.unpersist(_))

  /** Eager localCheckpoint, for query bodies that need a plan barrier
    * (e.g. the fused derive→format→parse round-trip tests, whose single
    * janino method otherwise grows past 64 KB and drops the whole stage
    * to interpreted eval) and for iterative loops that cut lineage.
    */
  def tracked(df: DataFrame): DataFrame = trackedWithHandle(df)._1

  /** [[tracked]], also returning the backing RDD: for [[Generation]],
    * which releases each superseded generation itself (the registry's
    * unpersist at release time is then a no-op).
    */
  private def trackedWithHandle(df: DataFrame): (DataFrame, RDD[_]) = {
    val out = df.localCheckpoint()
    val rdd = out.queryExecution.analyzed.collectLeaves().collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.getOrElse(sys.error(
      "localCheckpoint did not produce a LogicalRDD leaf — " +
        "Spark version drift in checkpoint plan shape"))
    track[RDD[_]](rdd)(_.unpersist(_))
    (out, rdd)
  }

  /** One loop variable's checkpoint generations (a peel's edge set, a
    * rank table, a BFS frontier), so no loop holds an RDD handle or
    * calls unpersist. [[advance]] checkpoints `next` as [[tracked]]
    * does, and only then releases the generation `next` replaces,
    * which `next` may therefore read. A variable holds one generation
    * however many rounds run; the last is left to [[releaseCaches]].
    * A `df` is not read after the next [[advance]]: its blocks are gone.
    */
  final class Generation private[Checkpoints] (private var current: DataFrame) {
    private var handle: RDD[_] = null

    def df: DataFrame = current

    /** Checkpoint `next`, release the generation it replaces, and
      * return the new [[df]].
      */
    def advance(next: DataFrame): DataFrame = {
      val (out, rdd) = trackedWithHandle(next)
      if (handle != null) handle.unpersist(blocking = false)
      current = out; handle = rdd
      out
    }
  }

  /** A [[Generation]] whose first generation is `first`, checkpointed. */
  def generation(first: DataFrame): Generation = {
    val g = seeded(); g.advance(first); g
  }

  /** A [[Generation]] starting at `seed` as it is, never checkpointed
    * or released here: a literal start (PageRank's seed rank), or null
    * for a variable first set inside the loop.
    */
  def seeded(seed: DataFrame = null): Generation = new Generation(seed)

  /** Wait until `sc` runs no job. A query can return before its last
    * job ends: adaptive execution does not wait for a broadcast stage
    * that an empty join side made unneeded, and that job still reads
    * the query's checkpoints. Released under it, a checkpoint block is
    * gone and the job fails, unseen by the caller.
    */
  private def settle(sc: SparkContext): Unit = {
    ListenerBusDrain.drain(sc)
    while (sc.statusTracker.getActiveJobIds.nonEmpty) Thread.sleep(1)
  }

  /** Wait for running jobs ([[settle]]), drain the registry, then
    * sweep the context for remaining GraphX-typed RDDs: GraphX
    * algorithms cache intermediate vertex/edge RDDs they never expose
    * (e.g. Pregel's per-iteration graphs), so a sweep is the only
    * complete release. Only GraphX
    * classes are swept — SQL/DataFrame caches are untouched.
    *
    * `blocking = true` waits for the block manager to actually drop
    * each block, so an async removal backlog from rep N can't pressure
    * rep N+1's checkpoints into disk spills (the r16 adjudication of
    * the LPA medians spread).
    */
  def releaseCaches(blocking: Boolean = false): Unit = releases.synchronized {
    val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    session.foreach(s => settle(s.sparkContext))
    val it = releases.iterator()
    while (it.hasNext) { it.next()(blocking); it.remove() }
    session.foreach { s =>
      s.sparkContext.getPersistentRDDs.values
        .filter(r => r.getClass.getName.startsWith("org.apache.spark.graphx") ||
          r.name == "VertexRDD" || r.name == "EdgeRDD")
        .foreach(_.unpersist(blocking))
    }
  }
}
