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
}
