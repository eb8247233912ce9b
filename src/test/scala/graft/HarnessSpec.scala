package graft

import graft.rdf.TripleStore
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("timeKey times rdf_build_triples on a store rebuilt after warm") {
    // a separate session, so the shared store other suites hold stays
    val s = SharedSpark.spark.newSession()
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
      // the rebuilt store reads the same path, so the old frame's
      // storageLevel would match the new cache: follow its buffers
      val buffers = warmed.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
      }
      assert(buffers.exists(s.sparkContext.getPersistentRDDs.contains),
        "warm must cache the store")
      assert(Harness.timeKey(s, dir, "rdf_build_triples", blocking = true) > 0)
      val rebuilt = TripleStore.triples(s, dir)
      assert(!(rebuilt eq warmed), "the timed run must build a new store")
      assert(!s.sparkContext.getPersistentRDDs.contains(buffers.get),
        "the warmed store must be evicted before the timer starts")
      assert(rebuilt.storageLevel.useMemory)
    } finally TripleStore.evictTriples(s, dir)
  }
}
