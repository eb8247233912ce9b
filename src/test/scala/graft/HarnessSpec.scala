package graft

import graft.rdf.TripleStore
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  /** `warm` writes the store once and holds it; timing
    * `rdf_build_triples` drops that store and builds a new one before
    * the timer. `held` is the id of the RDD a store's frame keeps its
    * triples in; `rebuilt` checks the new store.
    */
  private def rebuiltAfterWarm(s: SparkSession, held: DataFrame => Option[Int])
                              (rebuilt: DataFrame => Unit): Unit = {
    val dir = SharedSpark.sfDir
    // every file write warm runs: the store is the one physical copy
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.exists {
          case _: InsertIntoHadoopFsRelationCommand |
               _: CreateDataSourceTableAsSelectCommand => true
          case _ => false
        }) writes.incrementAndGet(): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      assert(Harness.warm(s, dir) > 0)
      ListenerBusDrain.drain(s.sparkContext)
      s.listenerManager.unregister(listener)
      assert(writes.get == 1, s"warm must write the store once, wrote ${writes.get}")
      val warmed = TripleStore.triples(s, dir)
      // the rebuilt store reads the same path, so follow the old
      // frame's held RDD, not anything derived from the files
      val buffers = held(warmed)
      assert(buffers.exists(s.sparkContext.getPersistentRDDs.contains),
        "warm must cache the store")
      assert(Harness.timeKey(s, dir, "rdf_build_triples", blocking = true) > 0)
      val next = TripleStore.triples(s, dir)
      assert(!(next eq warmed), "the timed run must build a new store")
      assert(!s.sparkContext.getPersistentRDDs.contains(buffers.get),
        "the warmed store must be evicted before the timer starts")
      rebuilt(next)
    } finally TripleStore.evictTriples(s, dir)
  }

  test("timeKey times rdf_build_triples on a store rebuilt after warm") {
    // a separate session, so the shared store other suites hold stays;
    // gated at 0 triples, so its store is the columnar cache
    val s = SharedSpark.spark.newSession()
    TripleStore.gateAt(s, 0)
    rebuiltAfterWarm(s, _.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    })(rebuilt => assert(rebuilt.storageLevel.useMemory))
  }

  test("timeKey times rdf_build_triples on a row-form store rebuilt after warm") {
    // the sf0.001 store is within Regime.budget: persisted rows
    val s = SharedSpark.spark.newSession()
    def rows(store: DataFrame) = store.queryExecution.logical match {
      case r: LogicalRDD => Some(r.rdd.id)
      case _ => None
    }
    rebuiltAfterWarm(s, rows)(rebuilt =>
      assert(rows(rebuilt).exists(s.sparkContext.getPersistentRDDs.contains),
        "the rebuilt store must hold its rows"))
  }
}
