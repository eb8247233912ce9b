package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (forked by sbt): the mains'
  * session at a fixed 4 cores. At sf0.001 every file is under the 8 MB
  * split, so the split size changes no scan.
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = Harness.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** A second session over the same context whose sf0.001 store is
    * served in the columnar form (the store's gate at 0 triples). The
    * shared session's 65,095-triple store is within `Regime.budget`
    * and served as persisted rows, so tests of the columnar cache's
    * plans run here.
    */
  lazy val columnar: SparkSession = {
    val s = spark.newSession()
    graft.rdf.TripleStore.gateAt(s, 0)
    s
  }
}
