package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materializes the triple relation once per (session, sfDir) and
  * serves every reader from the cached copy — without this each
  * triple pattern would re-derive the union-of-base-tables scan
  * (an n-pattern BGP would scan the sources n times).
  *
  * The derivation is written once as parquet clustered by predicate,
  * and the cached read-back of those files is what every query scans.
  * A frame over the store carries a 2-node analyzed plan (coalesce
  * over the file relation) instead of the derivation's ~55, and its
  * cached buffers a few-RDD lineage ending at the file scan instead
  * of ~40 with unions and a shuffle, so compile, planning, explain
  * rendering and per-task deserialization stay small. A constant-
  * predicate pattern filters the cached scan on `p`, and the
  * clustering lets it skip most cached batches. A lost cached block
  * is re-read from the files, not re-derived. On a cluster the same
  * one write goes to shared storage, partitioned by `p`.
  */
object TripleStore {

  // weak keys: entries die with their session, so a long-lived
  // process creating many sessions neither leaks plans nor serves a
  // cached DataFrame bound to a stopped session
  private val cache = new java.util.WeakHashMap[
    SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]()

  private def sessionCache(spark: SparkSession) = cache.synchronized {
    cache.computeIfAbsent(spark,
      _ => scala.collection.concurrent.TrieMap.empty[String, DataFrame])
  }

  def triples(spark: SparkSession, sfDir: String): DataFrame = {
    val c = sessionCache(spark)
    // one build per (session, sfDir): TrieMap.getOrElseUpdate may run
    // its body twice under a race, and two builds would write the same
    // directory
    c.getOrElse(sfDir, c.synchronized(
      c.getOrElseUpdate(sfDir, buildStore(spark, sfDir))))
  }

  /** Derive once, write as parquet, serve the cached read-back.
    *
    * The write clusters rows by predicate within each file (`coalesce`
    * then `sortWithinPartitions`, both narrow: the wide string rows are
    * never shuffled), so the cached column batches carry tight min/max
    * stats on `p` and a constant-predicate pattern skips most of them.
    * The read-back is coalesced to the session's core count before
    * caching (r19): the cached partition count splits every
    * downstream scan and GraphX edge derivation, and hundreds of
    * tiny-task partitions measured a 2-12× regression on the CC-family
    * keys. An RDF graph is a SET of triples;
    * [[RdfModel.tpchTriplesSet]] guarantees that without a distinct
    * over the exploded relation.
    */
  private def buildStore(spark: SparkSession, sfDir: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val dir = storeDir(spark, sfDir)
    reapOnExit(dir)
    RdfModel.tpchTriplesSet(spark, sfDir)
      .coalesce(cores).sortWithinPartitions("p")
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    TripleStats.register(spark.read.parquet(dir.getAbsolutePath)
      .coalesce(cores).persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** The store's files: process- and session-unique (see
    * [[scratchTag]]), and named `graft_triples_<pid>_…` so a killed
    * JVM's copy is reaped by [[sweepStaleScratch]].
    */
  private def storeDir(spark: SparkSession, sfDir: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_triples_${scratchTag(spark)}_store_" +
        sfDir.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Dimension-only slice (no lineitem facts) — a filter over the
    * shared cached relation, not a second materialization. Cached as
    * ONE instance per (session, sfDir) so [[TripleStats]]' identity-
    * keyed registry serves its profile to every query over it.
    */
  def dimensionTriples(spark: SparkSession, sfDir: String): DataFrame =
    sessionCache(spark).getOrElseUpdate("dim:" + sfDir,
      TripleStats.register(triples(spark, sfDir)
        .filter(!org.apache.spark.sql.functions.col("s").startsWith("line:"))))

  /** Drop the triple store for (session, sfDir): its cache and its
    * files. `Harness.timeKey` calls this before `rdf_build_triples`,
    * so the store-build key measures the cold derivation instead of a
    * cache read. The dimension slice is a filter over the store, so it
    * goes first and the next call re-derives it over the next store.
    */
  def evictTriples(spark: SparkSession, sfDir: String): Unit = {
    val c = sessionCache(spark)
    c.synchronized {
      c.remove("dim:" + sfDir)
      c.remove(sfDir).foreach { df =>
        df.unpersist(blocking = true)
        val dir = storeDir(spark, sfDir)
        rmTree(dir)
        reapList.remove(dir): Unit
      }
    }
  }

  /** Process- and session-unique suffix for scratch artifacts: the
    * pid separates concurrent JVMs, the session identity hash
    * separates multiple sessions inside one JVM (each session caches
    * its own materialization — two sessions sharing a path would
    * overwrite the files backing each other's cached DataFrames).
    */
  private def scratchTag(spark: SparkSession): String =
    s"${ProcessHandle.current().pid()}_${System.identityHashCode(spark)}"

  // ONE shutdown hook draining a list — per-materialization hooks
  // would accumulate threads in a long-lived JVM; and a SIGKILL'd
  // process runs no hook at all, which is why registration also
  // triggers the stale-scratch sweep below
  private val reapList =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.io.File]())

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  private lazy val reapHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      reapList.synchronized {
        reapList.forEach(rmTree(_)) }))
    sweepStaleScratch()
  }

  private def reapOnExit(dir: java.io.File): Unit = {
    reapHook
    reapList.add(dir): Unit
  }

  /** Reclaim stores leaked by DEAD processes (a SIGKILL'd or
    * OOM-killed JVM never runs its shutdown hook, and pid-unique names
    * mean no later run ever overwrites them): any graft_triples_*
    * entry in the temp dir whose embedded pid is no longer alive is
    * fair game. Live pids — concurrent runs — are left alone.
    */
  private[rdf] def sweepStaleScratch(): Unit = {
    val name = raw"graft_triples_(\d+)_.*".r
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
      .foreach(_.foreach { f =>
        f.getName match {
          case name(pid) =>
            val alive = ProcessHandle.of(pid.toLong)
              .map[Boolean](_.isAlive).orElse(false)
            if (!alive && pid.toLong != ProcessHandle.current().pid())
              rmTree(f)
          case _ => ()
        }
      })
  }
}
