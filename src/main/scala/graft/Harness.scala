package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.rdf.TripleStore

/** The one place a main builds its session, warms it and times a key.
  *
  * Every session is `local[cpus]` with `cpus` shuffle partitions and
  * 8 MB file splits. The local test files are tiny, so at Spark's
  * 128 MB default a file is one scan task; the 8 MB split lets
  * map-side stages use every core. One shuffle partition per core
  * keeps every core busy after a shuffle without Spark's default 200
  * near-empty tasks. Cluster deployments keep Spark's defaults.
  */
object Harness {

  /** The session of every main: `cpus` from SPARK_GRAFT_CPUS, else
    * `defaultCpus`; UTC, UI off, log level WARN, except the
    * lineage-truncation warning (see [[local]]).
    */
  def session(defaultCpus: Int): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt))

  /** [[session]] at a fixed core count, for the test JVM, whose shape
    * must not follow the environment.
    */
  private[graft] def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // releasing a checkpoint generation warns that the locally
    // checkpointed RDD "cannot be recomputed after unpersisting", once
    // per generation by design: 984 of the 1,044 lines of one sf0.1
    // Soak log. The logger is the checkpointed RDD's class.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Warm the JVM (codegen, shuffle machinery) and build the triple
    * store, so no timed key absorbs one-time startup or store-build
    * cost. Returns the seconds it took.
    */
  def warm(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).repartition(4).groupBy((col("id") % 10).as("k"))
      .count().collect()
    try {
      TripleStore.triples(spark, sfDir).count()
    } catch { case e: Throwable =>
      System.err.println(s"[harness] store warmup failed: ${e.getMessage}")
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Noop-write one [[SparkEntry.queries]] key and return its wall
    * seconds. The noop sink materializes every output column (`count()`
    * would let Catalyst prune the expressions under test). The release
    * runs after the timer; `blocking` keeps one rep's removal backlog
    * from pushing the next rep's checkpoints to disk (r16). The store
    * is evicted before `rdf_build_triples`, so its time is always the
    * cold build, never a read of the store [[warm]] cached.
    */
  def timeKey(spark: SparkSession, sfDir: String, key: String,
              blocking: Boolean): Double = {
    if (key == "rdf_build_triples") TripleStore.evictTriples(spark, sfDir)
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(key)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally Checkpoints.releaseCaches(blocking)
  }
}
