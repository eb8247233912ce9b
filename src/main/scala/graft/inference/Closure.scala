package graft.inference

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.Checkpoints
import graft.rdf.TripleStats

/** Closures over DATA-scale (sub, sup) edge relations: the SPARQL
  * property paths and the data-side hierarchies (category edges,
  * owl:TransitiveProperty chains). The static ontology never comes
  * here — [[Ontology]] closes it on the driver. The reference
  * re-walks hierarchies per query with Cypher (reference:
  * pidb-rdf-import/src/main/java/semantics/inference/MicroReasoners.java:20-22).
  *
  * Three regimes:
  *  - [[transitive]] closes the whole relation by path doubling
  *    (O(log diameter) rounds), for var–var paths;
  *  - a bound endpoint ([[reachableFrom]], [[reachableFromAny]],
  *    [[below]]) over at most [[graft.rdf.TripleStats.smallRows]]
  *    edges runs its BFS on the driver and returns the reached set as
  *    a local relation: no checkpoint, no job per round;
  *  - a bound endpoint over more edges runs one frontier BFS in
  *    Spark, which touches only the seed's neighborhood.
  * Both Spark loops are driver-driven and cut the growing lineage
  * with a tracked localCheckpoint ([[graft.Checkpoints]]).
  *
  * The gate between the two seeded regimes is one bounded fetch of
  * the edge rows (`limit(budget + 1)`): it prices the relation and
  * gets its rows in the same action, so it needs no statistics and
  * works on frames TripleStats never registers (property-graph
  * edges, composed sequence edges, graph-encoded edges). Over the
  * budget, that fetch (at most budget + 1 rows) is the whole extra
  * cost before the Spark loop.
  */
object Closure {

  /** Strict transitive closure of (sub, sup) edges. */
  def transitive(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    var cur = Checkpoints.tracked(edges.select(col("sub"), col("sup")).distinct())
    var size = cur.count()
    var round = 0
    var grown = true
    while (grown && round < maxRounds) {
      val next = Checkpoints.tracked(cur.as("a")
        .join(cur.as("b"), col("a.sup") === col("b.sub"))
        .select(col("a.sub").as("sub"), col("b.sup").as("sup"))
        .union(cur)
        .distinct())
      val nextSize = next.count()
      grown = nextSize > size
      cur = next
      size = nextSize
      round += 1
    }
    cur
  }

  /** Nodes reachable in one or more hops from a constant source. One
    * column, "sup".
    */
  def reachableFrom(edges: DataFrame, src: String): DataFrame =
    reachableFrom(edges, src, TripleStats.smallRows)

  private[inference] def reachableFrom(edges: DataFrame, src: String,
                                       budget: Long): DataFrame =
    seeded(edges, budget, Seq(src), edges.filter(col("sub") === src))

  /** Nodes reachable in one or more hops from ANY seed — the
    * multi-seed twin of [[reachableFrom]], with the seed SET joined in
    * instead of a constant filter. One column, "sup". Per-seed
    * attribution is NOT tracked: callers needing it (the
    * graph-encoded path compile, where each named graph contributes
    * one seed) must ensure the seeds' reachable components are
    * disjoint. `seeds` is one column "src", metadata-scale (collected
    * for the driver BFS, broadcast into the first hop of the Spark
    * one).
    */
  def reachableFromAny(edges: DataFrame, seeds: DataFrame): DataFrame =
    reachableFromAny(edges, seeds, TripleStats.smallRows)

  private[inference] def reachableFromAny(edges: DataFrame, seeds: DataFrame,
                                          budget: Long): DataFrame = {
    val srcs = seeds.select(col("src")).distinct()
    seeded(edges, budget, srcs.collect().map(_.get(0)).toSeq,
      edges.join(broadcast(srcs), col("sub") === col("src")))
  }

  /** Reflexive-transitive sub-closure seeded at `top`: `top` itself
    * plus everything below it — the BFS from `top` over the flipped
    * edges. One column, "c".
    */
  def below(edges: DataFrame, top: String): DataFrame =
    below(edges, top, TripleStats.smallRows)

  private[inference] def below(edges: DataFrame, top: String,
                               budget: Long): DataFrame = {
    val flipped = edges.select(col("sup").as("sub"), col("sub").as("sup"))
    val topRow = edges.sparkSession.createDataFrame(Seq(Tuple1(top))).toDF("c")
    driverReach(flipped, budget, Seq(top)) match {
      case Some(reached) =>
        val c = flipped.select(col("sup").as("c")).union(topRow).schema.head
        localRelation(edges, c, (top +: reached).distinct)
      case None =>
        frontierBfs(flipped, flipped.filter(col("sub") === top))
          .select(col("sup").as("c"))
          .union(topRow)
          .distinct()
    }
  }

  /** A seeded closure through the regime gate: the driver BFS from
    * `seeds` when [[driverReach]] fits, else the Spark frontier BFS
    * from `firstHop` (the seeds' outgoing edges). Both give one
    * column, `edges`' own "sup" field.
    */
  private def seeded(edges: DataFrame, budget: Long, seeds: => Seq[Any],
                     firstHop: => DataFrame): DataFrame =
    driverReach(edges, budget, seeds) match {
      case Some(reached) =>
        localRelation(edges, edges.select(col("sup")).schema.head, reached)
      case None => frontierBfs(edges, firstHop)
    }

  /** The regime gate: fetch at most `budget` + 1 (sub, sup) rows. When
    * no more than `budget` come back, BFS them on the driver and return
    * the nodes reached from `seeds` in one or more hops, as
    * [[frontierBfs]] would (a null sub matches nothing; a null sup is
    * reached but never expanded); otherwise None.
    */
  private def driverReach(edges: DataFrame, budget: Long,
                          seeds: => Seq[Any]): Option[Seq[Any]] = {
    val rows = edges.select(col("sub"), col("sup"))
      .limit(Math.toIntExact(budget + 1)).collect()
    if (rows.length > budget) None
    else {
      val out = rows.toSeq.filterNot(_.isNullAt(0)).groupMap(_.get(0))(_.get(1))
      val reached = mutable.LinkedHashSet.empty[Any]
      var frontier = seeds
      while (frontier.nonEmpty)
        frontier = frontier.flatMap(out.getOrElse(_, Nil)).filter(reached.add)
      Some(reached.toSeq)
    }
  }

  /** `values` as a one-column local relation of type `field`. */
  private def localRelation(edges: DataFrame, field: StructField,
                            values: Seq[Any]): DataFrame =
    edges.sparkSession.createDataFrame(values.map(Row(_)).asJava,
      StructType(Seq(field)))

  /** The Spark frontier BFS behind a seeded closure over more edges
    * than the budget: `firstHop` holds the seeds' outgoing edges; each
    * round joins the newest frontier to `edges` and keeps only unseen
    * nodes, until none appear.
    */
  private def frontierBfs(edges: DataFrame, firstHop: DataFrame): DataFrame = {
    var reached = Checkpoints.tracked(firstHop.select(col("sup")).distinct())
    // the frontier column is renamed so the frontier-edges join never
    // carries the same attribute on both sides (localCheckpoint keeps
    // expression ids, so an unrenamed frontier is a self-join that
    // trips Spark's ambiguity detection)
    var frontier = reached.toDF("f_sup")
    var done = reached.isEmpty
    while (!done) {
      val next = Checkpoints.tracked(frontier.join(edges, col("f_sup") === col("sub"))
        .select(col("sup")).distinct()
        .except(reached))
      done = next.isEmpty
      if (!done) {
        reached = Checkpoints.tracked(reached.union(next).distinct())
        frontier = next.toDF("f_sup")
      }
    }
    reached
  }
}
