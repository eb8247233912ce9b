package graft.rdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints

/** RDF collections (rdf:first / rdf:rest cons chains) → ordered rows.
  * The Turtle `( a b c )` sugar and every OWL construct that takes an
  * ordered argument list (owl:unionOf, owl:intersectionOf,
  * owl:propertyChainAxiom) store THIS shape; a store that cannot
  * unroll it cannot read those axioms back. Reference surface:
  * LiteOntologyImporter skips list-valued axioms entirely — this
  * closes that read path.
  *
  * Scale shape: heads are the cells no rdf:rest points to (one
  * anti-join); each walk round advances every unfinished list one
  * cell — two keyed joins per round, frontier shrinks as lists
  * finish, `localCheckpoint` truncates lineage. Rounds = LONGEST list
  * length, which in real graphs is schema-scale (an axiom's operand
  * list), not data-scale — the documented contract; a pathological
  * million-element list would want the pointer-doubling route
  * instead.
  */
object RdfList {

  /** (head, pos, item) for every well-formed list in the relation.
    * A chain still unfinished after `maxLen` cells — an `rdf:rest`
    * cycle, or a list longer than `maxLen` — fails with an
    * IllegalArgumentException naming its head.
    */
  def unroll(triples: DataFrame, maxLen: Int = 1000): DataFrame = {
    val first = triples.filter(col("p") === "rdf:first")
      .select(col("s").as("cell"), col("o").as("item"))
    val rest = triples.filter(col("p") === "rdf:rest")
      .select(col("s").as("cell"), col("o").as("nxt"))
    val heads = first.select(col("cell"))
      .join(rest.select(col("nxt").as("cell")), Seq("cell"), "left_anti")

    val frontier = Checkpoints.generation(heads
      .select(col("cell").as("head"), col("cell"), lit(0).as("pos")))
    val out = Checkpoints.generation(frontier.df.join(first, "cell")
      .select(col("head"), col("pos"), col("item")))
    var round = 0
    var done = frontier.df.isEmpty
    while (!done && round < maxLen) {
      val next = frontier.advance(frontier.df.join(rest, "cell")
        .filter(col("nxt") =!= "rdf:nil")
        .select(col("head"), col("nxt").as("cell"),
          (col("pos") + 1).as("pos")))
      done = next.isEmpty
      if (!done)
        out.advance(out.df.unionByName(next.join(first, "cell")
          .select(col("head"), col("pos"), col("item"))))
      round += 1
    }
    require(done, "rdf list from head " + frontier.df.select(col("head")).distinct()
      .orderBy(col("head")).limit(3).collect().map(_.get(0)).mkString(", ") +
      s" does not reach rdf:nil within maxLen = $maxLen cells: a cycle, or a longer list")
    out.df
  }
}
