package graft.inference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints

/** Transitive closure by iterated self-join with path doubling —
  * O(log diameter) rounds. The reference re-walks the hierarchy
  * per-query with Cypher (reference:
  * pidb-rdf-import/src/main/java/semantics/inference/MicroReasoners.java:20-22);
  * here the closure is materialized once and broadcast everywhere,
  * which is the right trade at any scale because ontologies are tiny
  * relative to data.
  *
  * The driver-side loop is bounded by log2(hierarchy depth), not data
  * size; a tracked localCheckpoint ([[graft.Checkpoints]]) truncates
  * the growing plan lineage.
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

  /** Nodes reachable in one or more hops from a constant source —
    * frontier-seeded BFS, so a bound-endpoint path query touches the
    * frontier's neighborhood instead of materializing the whole
    * graph's closure. One column, "sup".
    */
  def reachableFrom(edges: DataFrame, src: String): DataFrame = {
    var reached = Checkpoints.tracked(edges.filter(col("sub") === src)
      .select(col("sup")).distinct())
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

  /** Nodes reachable in one or more hops from ANY seed — the
    * multi-seed twin of [[reachableFrom]], same frontier BFS with the
    * seed SET joined in instead of a constant filter. One column,
    * "sup". Per-seed attribution is NOT tracked: callers needing it
    * (the graph-encoded path compile, where each named graph
    * contributes one seed) must ensure the seeds' reachable
    * components are disjoint. `seeds` is one column "src",
    * metadata-scale (broadcast into the frontier joins).
    */
  def reachableFromAny(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val seedB = broadcast(seeds.select(col("src")).distinct())
    var reached = Checkpoints.tracked(edges.join(seedB, edges("sub") === seedB("src"))
      .select(col("sup")).distinct())
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

  /** Reflexive-transitive sub-closure seeded at `top`: `top` itself
    * plus everything below it. One column, "c".
    */
  def below(edges: DataFrame, top: String): DataFrame = {
    val spark = edges.sparkSession
    transitive(edges)
      .filter(col("sup") === top)
      .select(col("sub").as("c"))
      .union(spark.createDataFrame(Seq(Tuple1(top))).toDF("c"))
      .distinct()
  }
}
