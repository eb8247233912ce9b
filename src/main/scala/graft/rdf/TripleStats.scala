package graft.rdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-predicate statistics for a registered triple relation —
  * the ANALYZE-TABLE analogue the SPARQL compiler's join ordering
  * reads (triple count, distinct subjects, distinct objects per
  * predicate; vocabulary-sized, so collecting it to the driver is
  * metadata-scale even at 100 TB).
  *
  * Design: [[TripleStore]] registers every relation it serves (the
  * cached store and its dimension slice); the profile is computed
  * LAZILY on the first multi-pattern BGP compile against that
  * relation and memoized, so the store build itself never pays the
  * pass and every later compile reads a map.
  * Unregistered frames (update slices, ad-hoc test frames) simply
  * return None and the compiler keeps its static bound-term
  * heuristic — stats are an accelerator, never a correctness
  * dependency.
  *
  * Spark-first counterpart of a cost-based optimizer's catalog
  * statistics: the reference compiles triple patterns in syntactic
  * order (reference: pidb-rdf-engine/src/main/java/sparql/
  * SparqlToGremlinCompiler.java:241-296); at 100× scale, joining a
  * rare predicate's slice before a hot one is the difference between
  * a ~|rare| intermediate and a ~|hot| one.
  */
object TripleStats {

  /** Per-predicate profile: triple count, distinct subject count,
    * distinct object count.
    */
  final case class PredStat(n: Long, nSubjects: Long, nObjects: Long)

  /** A relation of at most this many rows is small enough to hold
    * whole in one JVM: the SPARQL compiler broadcast-hints a pattern
    * scan estimated at or under it (its join never shuffles the big
    * side; AQE still upgrades larger sides at runtime when their
    * measured size allows), and [[graft.Regime]], the one gate between
    * the driver and the cluster, answers a graph operator or a seeded
    * closure from the rows of an input of at most this many rows on
    * the driver.
    * Sized so such a relation (2-4 short string columns) stays well
    * under a 10 MB broadcast budget.
    */
  val smallRows = 100000L

  // weak identity keys (Dataset does not override equals): entries
  // die with the registered frame — which TripleStore caches for the
  // session's lifetime — so no session outlives its stats
  private val registry = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Memo]())

  // the memo holds its frame WEAKLY: a strong value→key reference
  // inside a WeakHashMap would pin the entry forever (the classic
  // leak); a cleared referent just means no stats
  private final class Memo(df0: DataFrame,
      pre: Option[Map[String, PredStat]] = None) {
    private val ref = new java.lang.ref.WeakReference(df0)
    lazy val stats: Map[String, PredStat] = pre.getOrElse(
      Option(ref.get()) match {
        case None => Map.empty
        case Some(df) =>
          profile(df).collect()
            .map(r => r.getString(0) ->
              PredStat(r.getLong(1), r.getLong(2), r.getLong(3)))
            .toMap
      })
    lazy val total: Long = stats.valuesIterator.map(_.n).sum
  }

  /** The profile as a relation — the ANALYZE pass itself. */
  private def profile(df: DataFrame): DataFrame =
    df.groupBy(col("p"))
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(col("s")).as("ns"),
        approx_count_distinct(col("o")).as("no"))

  /** Register a triple relation for lazy profiling; returns it. */
  def register(df: DataFrame): DataFrame = {
    registry.putIfAbsent(df, new Memo(df))
    df
  }

  /** Register with a PRECOMPUTED profile: no scan ever runs against
    * this frame. Tests plant stats through it to pin the compiler's
    * stats-driven choices.
    */
  def registerPrecomputed(df: DataFrame,
                          stats: Map[String, PredStat]): DataFrame = {
    registry.put(df, new Memo(df, Some(stats)))
    df
  }

  /** The memoized profile of a registered frame (computing it on
    * first use), or None for unregistered frames.
    */
  def forFrame(df: DataFrame): Option[Map[String, PredStat]] =
    Option(registry.get(df)).map(_.stats)

  /** Total triple count of a registered frame (for variable-predicate
    * pattern estimates), or None.
    */
  def totalOf(df: DataFrame): Option[Long] =
    Option(registry.get(df)).map(_.total)
}
