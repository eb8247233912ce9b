package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materializes the triple relation once per (session, sfDir) and
  * serves every BGP pattern from the cached copy — without this each
  * triple pattern would re-derive the union-of-base-tables scan
  * (an n-pattern BGP would scan the sources n times).
  *
  * Cluster posture: at 100 TB the equivalent is a parquet table
  * written `partitionBy("p")` (vertical partitioning a la S2RDF) and
  * bucketed by `s`, so constant-predicate patterns prune partitions
  * and subject-subject joins co-locate. In-process the store takes the
  * same shape in one directory: the derivation is written once as
  * parquet clustered by predicate, and the cached read-back of those
  * files is what every query scans. A frame over the store carries a
  * 2-node analyzed plan (coalesce over the file relation) instead of
  * the derivation's ~55, and its cached buffers a few-RDD lineage
  * ending at the file scan instead of ~40 with unions and a shuffle,
  * so compile, planning, explain rendering and per-task
  * deserialization stay small. A lost cached block is re-read from
  * the files, not re-derived.
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

  /** The store's files: process- and session-unique like the layouts
    * below, and named `graft_triples_<pid>_…` so a killed JVM's copy is
    * reaped by [[sweepStaleScratch]]; the `_store_` infix keeps it
    * apart from the `graft_pstore_` partitioned layout.
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
    * files. Bench warmup materializes the parquet layouts — which
    * derives the store as a side effect — then calls this, so the
    * store-build key still measures the cold derivation instead of a
    * cache read. The layouts have their own files and stay; the
    * dimension slice is a filter over the store, so it goes first and
    * the next call re-derives it over the next store.
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

  /** The cluster layout made concrete: the triple relation as parquet
    * partitioned by predicate (vertical partitioning à la S2RDF).
    * Predicate cardinality is vocabulary-sized, so the directory
    * fan-out stays small while every constant-predicate BGP pattern
    * prunes to its partition directories before any I/O — at 100 TB
    * that is the difference between scanning one predicate's slice
    * and scanning the world. PlanSpec proves the pruning
    * (PartitionFilters on the scan).
    */
  /** The write clusters rows by predicate first: without it every
    * input task writes a file into every predicate directory (tasks ×
    * predicates small files, each behind a dynamic-partition sort);
    * clustered, each directory gets one well-sized file per holding
    * task. At cluster scale add a salt to the repartition key so a
    * hot predicate spreads over many writers — locally the predicate
    * count (~40) already exceeds the core count's useful write
    * parallelism.
    */
  def writePartitioned(triples: DataFrame, path: String): Unit = {
    triples.repartition(org.apache.spark.sql.functions.col("p"))
      .write.mode("overwrite").partitionBy("p").parquet(path)
    // ANALYZE at write time: the vocabulary-sized per-predicate
    // profile persists beside the layout (hidden `_` sidecar), so a
    // NEW session — or a cluster job against shared storage — loads
    // the join-ordering stats in O(vocabulary) instead of re-scanning
    // the data
    TripleStats.persist(triples, path)
  }

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The predicate-partitioned layout, materialized once per
    * (session, sfDir) under the JVM temp dir and served read-back —
    * so gate queries exercise the REAL cluster path end-to-end:
    * parquet directories per predicate, constant-predicate patterns
    * pruned via PartitionFilters before any I/O. The path is
    * process-unique (pid) so concurrent runs don't clobber each
    * other; overwrite-on-first-use keeps reruns in one JVM cheap.
    * The JVM temp dir is only valid storage on local[*] (driver and
    * executors share a filesystem); on a cluster, materialize with
    * [[writePartitioned]]/[[readPartitioned]] against shared storage
    * instead — this helper exists so gate runs exercise that layout.
    */
  /** Process- and session-unique suffix for scratch artifacts: the
    * pid separates concurrent JVMs, the session identity hash
    * separates multiple sessions inside one JVM (each session caches
    * its own materialization — two sessions sharing a path would
    * overwrite the files backing each other's cached DataFrames).
    */
  private def scratchTag(spark: SparkSession): String =
    s"${ProcessHandle.current().pid()}_${System.identityHashCode(spark)}"

  def partitionedTriples(spark: SparkSession, sfDir: String): DataFrame =
    sessionCache(spark).getOrElseUpdate("partitioned:" + sfDir, {
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_pstore_${scratchTag(spark)}_" +
          sfDir.replaceAll("[^A-Za-z0-9.]", "_"))
      // the layout is a per-process scratch materialization (~GB at
      // larger SFs) — reap it when the JVM exits so repeated gate
      // runs don't accumulate dead copies in the temp dir
      reapOnExit(dir)
      writePartitioned(triples(spark, sfDir), dir.getAbsolutePath)
      val df = readPartitioned(spark, dir.getAbsolutePath)
      // serve the PERSISTED profile — the read-back frame never pays
      // its own ANALYZE pass (falls back to lazy profiling only if
      // the sidecar vanished)
      TripleStats.load(spark, dir.getAbsolutePath) match {
        case Some(m) => TripleStats.registerPrecomputed(df, m)
        case None => TripleStats.register(df)
      }
    })

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

  /** Reclaim scratch layouts leaked by DEAD processes (a SIGKILL'd or
    * OOM-killed JVM never runs its shutdown hook, and pid-unique names
    * mean no later run ever overwrites them): any graft_pstore_* /
    * graft_triples_* entry whose embedded pid is no longer alive is
    * fair game. Live pids — concurrent runs — are left alone.
    */
  private[rdf] def sweepStaleScratch(): Unit = {
    val name = raw"graft_(?:pstore|triples)_(\d+)_.*".r
    def sweep(parent: java.io.File): Unit =
      Option(parent.listFiles()).foreach(_.foreach { f =>
        f.getName match {
          case name(pid) =>
            val alive = ProcessHandle.of(pid.toLong)
              .map[Boolean](_.isAlive).orElse(false)
            if (!alive && pid.toLong != ProcessHandle.current().pid())
              rmTree(f)
          case _ => ()
        }
      })
    sweep(new java.io.File(sys.props("java.io.tmpdir")))
    // bucketed layouts live under the warehouse dir as table dirs —
    // same naming scheme, same sweep; the warehouse path is only
    // known per-session, so sweep the default local one
    sweep(new java.io.File("spark-warehouse"))
  }

  /** The other half of the cluster layout: the triple relation as a
    * SUBJECT-BUCKETED table. BGP self-joins are equi-joins on the
    * subject; with both sides bucketed by `s` the join consumes the
    * bucketing (`HashPartitioning(s)` propagates through the pattern
    * projections' aliases), so an n-pattern star join runs with ZERO
    * exchanges — at 100 TB that removes the dominant shuffle of every
    * star query. PlanSpec proves the exchange-free plan.
    */
  def writeBucketed(triples: DataFrame, table: String,
                    buckets: Int = 32): Unit =
    triples.write.mode("overwrite")
      .bucketBy(buckets, "s").sortBy("s")
      .format("parquet").saveAsTable(table)

  /** The subject-bucketed layout, materialized once per (session,
    * sfDir) as a catalog table — the star-join half of the cluster
    * posture, exercised end-to-end by a gate key the same way
    * [[partitionedTriples]] serves the pruning half. Table name is
    * process-unique so concurrent runs sharing a warehouse dir don't
    * clobber each other.
    */
  def bucketedTriples(spark: SparkSession, sfDir: String): DataFrame =
    sessionCache(spark).getOrElseUpdate("bucketed:" + sfDir, {
      val table = s"graft_triples_${scratchTag(spark)}_" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_")
      writeBucketed(triples(spark, sfDir), table)
      // same scratch-lifecycle as the partitioned layout: the
      // catalog metadata dies with the JVM (in-memory catalog), so
      // reaping the warehouse files is the whole cleanup
      reapOnExit(new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
          .getPath, table))
      TripleStats.register(spark.table(table))
    })
}
