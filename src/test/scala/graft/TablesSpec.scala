package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** `load`'s frame and the jobs the call fired. */
  private def load(s: SparkSession, dir: String, name: String): (DataFrame, Int) = {
    val sc = s.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val df = try {
      val r = Tables.load(s, dir, name)
      ListenerBusDrain.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    (df, jobs.get)
  }

  test("a table's schema is inferred once per unchanged file and session") {
    val dir = Files.createTempDirectory("graft_tables")
    val file = dir.resolve("t.parquet")
    try {
      Files.copy(Paths.get(SharedSpark.sfDir, "region.parquet"), file)
      val (cold, coldJobs) = load(spark, dir.toString, "t")
      val (warm, warmJobs) = load(spark, dir.toString, "t")
      assert(coldJobs > 0 && warmJobs == 0, (coldJobs, warmJobs))
      assert(warm.schema == cold.schema)
      assert(warm.collect().toSeq == cold.collect().toSeq)
      // a rewritten file is inferred again
      Files.copy(Paths.get(SharedSpark.sfDir, "nation.parquet"), file,
        StandardCopyOption.REPLACE_EXISTING)
      val (rewritten, rewrittenJobs) = load(spark, dir.toString, "t")
      assert(rewrittenJobs > 0)
      assert(rewritten.schema == spark.read.parquet(file.toString).schema)
      assert(rewritten.count() == 25)
      // and a new session starts cold
      assert(load(spark.newSession(), dir.toString, "t")._2 > 0)
    } finally {
      Files.deleteIfExists(file)
      Files.delete(dir)
    }
  }
}
