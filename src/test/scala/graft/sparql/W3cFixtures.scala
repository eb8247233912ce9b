package graft.sparql

import graft.SharedSpark
import org.apache.spark.sql.DataFrame

/** Triple fixtures of the W3C SPARQL 1.1 evaluation families that
  * [[W3cConformanceSpec]] replays, in the engine's triple relation
  * (s, p, o, o_num, o_is_iri, lang).
  */
object W3cFixtures {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** data-r2 "johnny lee outlaw" style fixture: people, names, mboxes
    * (one missing), ages, knows edges, types — covers the algebra,
    * optional, negation, and function families.
    */
  lazy val people: DataFrame = Seq(
    ("p:alice", "rdf:type", ":Person", Option.empty[Double], true, Option.empty[String]),
    ("p:bob", "rdf:type", ":Person", None, true, None),
    ("p:carol", "rdf:type", ":Person", None, true, None),
    ("p:dave", "rdf:type", ":Robot", None, true, None),
    ("p:alice", ":name", "Alice", None, false, None),
    ("p:bob", ":name", "Bob", None, false, None),
    ("p:carol", ":name", "Carol", None, false, None),
    ("p:dave", ":name", "Dave", None, false, None),
    ("p:alice", ":mbox", "mailto:alice@work.example", None, true, None),
    ("p:bob", ":mbox", "mailto:bob@work.example", None, true, None),
    // carol has NO mbox — the optional/negation pivot
    ("p:alice", ":age", "30", Some(30.0), false, None),
    ("p:bob", ":age", "40", Some(40.0), false, None),
    ("p:carol", ":age", "25", Some(25.0), false, None),
    ("p:alice", ":knows", "p:bob", None, true, None),
    ("p:bob", ":knows", "p:carol", None, true, None),
    ("p:carol", ":knows", "p:dave", None, true, None),
    ("p:alice", ":greeting", "Hello", None, false, Some("en")),
    ("p:alice", ":greeting", "Bonjour", None, false, Some("fr")))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  /** aggregates family fixture (agg01-agg08 shapes): org→dept→emp
    * with salaries. */
  lazy val orgs: DataFrame = Seq(
    ("o:org1", ":affiliates", "o:dep1", Option.empty[Double], true, Option.empty[String]),
    ("o:org1", ":affiliates", "o:dep2", None, true, None),
    ("o:org2", ":affiliates", "o:dep3", None, true, None),
    ("o:dep1", ":employee", "o:emp1", None, true, None),
    ("o:dep1", ":employee", "o:emp2", None, true, None),
    ("o:dep2", ":employee", "o:emp3", None, true, None),
    ("o:dep3", ":employee", "o:emp4", None, true, None),
    ("o:emp1", ":salary", "100", Some(100.0), false, None),
    ("o:emp2", ":salary", "200", Some(200.0), false, None),
    ("o:emp3", ":salary", "300", Some(300.0), false, None),
    ("o:emp4", ":salary", "400", Some(400.0), false, None))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")

  /** property-path family fixture (pp* shapes): a small DAG plus a
    * cycle, typed nodes. */
  lazy val paths: DataFrame = Seq(
    ("n:a", ":p", "n:b", Option.empty[Double], true, Option.empty[String]),
    ("n:b", ":p", "n:c", None, true, None),
    ("n:c", ":p", "n:d", None, true, None),
    ("n:d", ":p", "n:a", None, true, None), // the cycle pp* must terminate on
    ("n:a", ":q", "n:e", None, true, None),
    ("n:e", ":r", "n:f", None, true, None),
    ("n:a", ":s", "lit1", None, false, None))
    .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
}
