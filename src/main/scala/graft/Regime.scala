package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType
import graft.rdf.TripleStats

/** The one size gate between the driver and the cluster: an operator
  * whose input may be metadata-scale (an identity-link set, a geo
  * edge set, a category hierarchy) asks here whether that input fits
  * in one JVM, and answers from its rows on the driver when it does —
  * no job per superstep, no checkpoint per round.
  *
  * The gate is one action that prices the relation and gets its rows
  * together, so it needs no statistics and works on frames
  * TripleStats never registers (composed edge sets, derived link
  * sets). It persists a derived relation first and fills that persist
  * in the same job: over the budget, the Spark side then reads the
  * persisted relation instead of deriving it again (a co-order edge
  * set is a lineitem self-join plus a distinct). A relation that is
  * only a file scan with filters and projections (an embeddings table)
  * is not persisted: reading it again costs less than caching it, and
  * each task then stops after `budget + 1` rows. At sf0.1 through a
  * budget of 0, IVF-PQ top-k's Spark side over the persisted table
  * took 0.72 s against 0.55 s with no gate; unpersisted, 0.56 s
  * against 0.63 s (medians of 6 alternating runs each).
  */
object Regime {

  /** The gate's budget in rows: [[graft.rdf.TripleStats.smallRows]],
    * the same bound under which the SPARQL compiler broadcasts a
    * pattern scan. Operators read it here, so the gate has one owner.
    */
  val budget: Long = TripleStats.smallRows

  /** `df`'s rows when it holds at most [[budget]] of them (Right),
    * else `df` for the Spark side (Left), persisted unless it is a
    * file scan. A Left is released with everything else by
    * [[Checkpoints.releaseCaches]]; a Right persists nothing.
    */
  def fetchIfSmall(df: DataFrame): Either[DataFrame, Array[Row]] =
    fetchIfSmall(df, budget)

  /** [[fetchIfSmall]] at an explicit budget; tests pass 0 to force the
    * Spark side.
    */
  private[graft] def fetchIfSmall(df: DataFrame,
                                  budget: Long): Either[DataFrame, Array[Row]] = {
    val scan = isScan(df)
    val kept = if (scan) df else Checkpoints.persisted(df)
    val cap = Math.toIntExact(budget + 1)
    val rows = Array.newBuilder[Row]
    var n = 0
    // one job over every partition: computing a partition of a
    // persisted relation stores all of it, while only a partition of
    // at most `budget` rows sends them back; the driver keeps at most
    // `budget` rows in all
    val rdd = kept.rdd
    kept.sparkSession.sparkContext.runJob(rdd,
      (_: TaskContext, it: Iterator[Row]) => Some(it.take(cap).toArray).filter(_.length < cap),
      rdd.partitions.indices,
      (_: Int, part: Option[Array[Row]]) => part match {
        case Some(p) if n + p.length < cap => rows ++= p; n += p.length
        case _ => n = cap
      })
    if (n > budget) Left(kept)
    else {
      if (!scan) kept.unpersist()
      Right(rows.result())
    }
  }

  /** Whether `df` only scans files, filters and projects. */
  private def isScan(df: DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.exists {
      case _: Project | _: Filter | _: LogicalRelation => false
      case _ => true
    }

  /** `rows` as a local relation of `schema`: the driver side's result,
    * typed like the Spark side's.
    */
  def localRelation(df: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame =
    df.sparkSession.createDataFrame(rows.asJava, schema)
}
