package graft

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class RegimeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("the regime gate fetches a 3-partition frame in exactly 1 job and persists nothing") {
    val sc = spark.sparkContext
    // three partitions, so the fetch is a real scan, not a local
    // relation the planner answers without a job
    val df = sc.parallelize(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")), 3)
      .toDF("src", "dst")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    val persisted = sc.getPersistentRDDs.keySet
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val got = try {
      val r = Regime.fetchIfSmall(df)
      ListenerBusDrain.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} jobs")
    assert(got.map(_.map(r => (r.getString(0), r.getString(1))).toSet) ==
      Right(Set(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))))
    assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty)
  }

  test("over its budget the gate hands back the relation persisted") {
    val df = spark.sparkContext.parallelize(1 to 10, 3).toDF("x")
    Regime.fetchIfSmall(df, 9) match {
      case Left(kept) =>
        assert(kept.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        assert(kept.as[Int].collect().sorted.toSeq == (1 to 10))
      case Right(rows) => fail(s"${rows.length} rows fetched over a budget of 9")
    }
    assert(Regime.fetchIfSmall(df, 10).map(_.length) == Right(10))
    Checkpoints.releaseCaches()
  }

  test("a file scan is fetched and handed back without a persist") {
    val sc = spark.sparkContext
    val df = Tables.region(spark, SharedSpark.sfDir).select("r_regionkey", "r_name")
    val persisted = sc.getPersistentRDDs.keySet
    Regime.fetchIfSmall(df, 2) match {
      case Left(kept) =>
        assert(kept eq df)
        assert(kept.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      case Right(rows) => fail(s"${rows.length} rows fetched over a budget of 2")
    }
    assert(Regime.fetchIfSmall(df).map(_.length) == Right(5))
    assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty)
  }
}
