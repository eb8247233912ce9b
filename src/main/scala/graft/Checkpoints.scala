package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of intermediate storage: every localCheckpoint,
  * persist and cached graph the library makes is registered here, and
  * [[releaseCaches]] is the one release.
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

  /** [[tracked]], also returning the backing RDD — iterative loops
    * (pagerank, k-core, LPA) unpersist each superseded generation
    * directly so peak storage stays at one generation; the registry
    * still drains whatever remains at release time (double-unpersist
    * is a no-op).
    */
  def trackedWithHandle(df: DataFrame): (DataFrame, RDD[_]) = {
    val out = df.localCheckpoint()
    val rdd = out.queryExecution.analyzed.collectLeaves().collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.getOrElse(sys.error(
      "localCheckpoint did not produce a LogicalRDD leaf — " +
        "Spark version drift in checkpoint plan shape"))
    track[RDD[_]](rdd)(_.unpersist(_))
    (out, rdd)
  }

  /** Drain the registry, then sweep the context for remaining
    * GraphX-typed RDDs: GraphX algorithms cache intermediate
    * vertex/edge RDDs they never expose (e.g. Pregel's per-iteration
    * graphs), so a sweep is the only complete release. Only GraphX
    * classes are swept — SQL/DataFrame caches are untouched.
    *
    * `blocking = true` waits for the block manager to actually drop
    * each block, so an async removal backlog from rep N can't pressure
    * rep N+1's checkpoints into disk spills (the r16 adjudication of
    * the LPA medians spread).
    */
  def releaseCaches(blocking: Boolean = false): Unit = releases.synchronized {
    val it = releases.iterator()
    while (it.hasNext) { it.next()(blocking); it.remove() }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach { s =>
        s.sparkContext.getPersistentRDDs.values
          .filter(r => r.getClass.getName.startsWith("org.apache.spark.graphx") ||
            r.name == "VertexRDD" || r.name == "EdgeRDD")
          .foreach(_.unpersist(blocking))
      }
  }
}
