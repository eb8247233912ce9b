package graft.inference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints

/** Closures over DATA-scale (sub, sup) edge relations: the SPARQL
  * property paths and the data-side hierarchies (category edges,
  * owl:TransitiveProperty chains). The static ontology never comes
  * here — [[Ontology]] closes it on the driver. The reference
  * re-walks hierarchies per query with Cypher (reference:
  * pidb-rdf-import/src/main/java/semantics/inference/MicroReasoners.java:20-22).
  *
  * Two regimes: [[transitive]] closes the whole relation by path
  * doubling (O(log diameter) rounds) for var–var paths; a bound
  * endpoint seeds one frontier BFS instead, which touches only the
  * seed's neighborhood. Both loops are driver-side and cut the
  * growing lineage with a tracked localCheckpoint
  * ([[graft.Checkpoints]]).
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
    frontierBfs(edges, edges.filter(col("sub") === src))

  /** Nodes reachable in one or more hops from ANY seed — the
    * multi-seed twin of [[reachableFrom]], with the seed SET joined in
    * instead of a constant filter. One column, "sup". Per-seed
    * attribution is NOT tracked: callers needing it (the
    * graph-encoded path compile, where each named graph contributes
    * one seed) must ensure the seeds' reachable components are
    * disjoint. `seeds` is one column "src", metadata-scale (broadcast
    * into the first hop).
    */
  def reachableFromAny(edges: DataFrame, seeds: DataFrame): DataFrame =
    frontierBfs(edges,
      edges.join(broadcast(seeds.select(col("src")).distinct()), col("sub") === col("src")))

  /** Reflexive-transitive sub-closure seeded at `top`: `top` itself
    * plus everything below it — the BFS from `top` over the flipped
    * edges. One column, "c".
    */
  def below(edges: DataFrame, top: String): DataFrame =
    reachableFrom(edges.select(col("sup").as("sub"), col("sub").as("sup")), top)
      .select(col("sup").as("c"))
      .union(edges.sparkSession.createDataFrame(Seq(Tuple1(top))).toDF("c"))
      .distinct()

  /** The frontier BFS behind every seeded closure: `firstHop` holds
    * the seeds' outgoing edges; each round joins the newest frontier
    * to `edges` and keeps only unseen nodes, until none appear.
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
