package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic-testdata generator for soak runs beyond the driver's
  * largest shipped scale (sf0.1). Emits the TESTDATA.md star schema
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`) at any multiple of sf1, derived entirely
  * from `spark.range` + per-row hash arithmetic: no RNG state, no
  * driver-side loops — the same rows come out at any partitioning or
  * cluster size, and generation scales linearly with executors.
  *
  * Usage: `runMain graft.tools.GenData <outDir> [sfTimes10]`
  * (sfTimes10 = 10 → sf1). Distributions mirror the shipped tables'
  * shapes (key ranges, dictionaries, date spans) closely enough that
  * operator cost profiles carry over; values are NOT bit-identical to
  * the driver's pyarrow generator — soak runs measure scale, the
  * DuckDB oracle still gates correctness at sf0.01.
  */
object GenData {

  private def h(salt: Int, cols: Column*): Column =
    abs(xxhash64((lit(salt) +: cols): _*))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val times10 = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Harness.session(32)
    write(spark, outDir, times10)
    spark.stop()
  }

  /** Emits every table under `outDir/<name>.parquet`. `times10` = 10
    * is sf1 (6M lineitem); 1 reproduces sf0.1 scale.
    */
  def write(spark: SparkSession, outDir: String, times10: Int): Unit = {
    val nCust = 15000L * times10
    val nSupp = 1000L * times10
    val nPart = 20000L * times10
    val nOrders = 150000L * times10
    val nLine = 600000L * times10
    val nEvents = 100000L * times10
    val nDocs = 5000L * times10
    val nVecs = 2000L * times10
    val id = col("id")

    def pick(options: Seq[String], salt: Int): Column =
      element_at(array(options.map(lit): _*),
        (h(salt, id) % options.size + 1).cast("int"))

    def save(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    save(spark.range(5).select(
      id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), id.cast("int") + 1).as("r_name")),
      "region", 1)

    save(spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "nation", 1)

    save(spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      (h(1, id) % 25).cast("int").as("c_nationkey"),
      round((h(2, id) % 1100000) / 100.0 - 1000.0, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), 3).as("c_mktsegment")), "customer", 4 * times10)

    save(spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      (h(4, id) % 25).cast("int").as("s_nationkey"),
      round((h(5, id) % 1100000) / 100.0 - 1000.0, 2).as("s_acctbal")),
      "supplier", times10)

    val adjectives = Seq("large", "hot", "blue", "small", "dark", "light",
      "red", "green")
    val nouns = Seq("ring", "bolt", "plate", "wheel", "box", "cap", "rod",
      "pin")
    save(spark.range(nPart).select(
      id.as("p_partkey"),
      concat(pick(adjectives, 6), lit(" "), pick(nouns, 7)).as("p_name"),
      concat(lit("Brand#"), (h(8, id) % 25 + 1)).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        9).as("p_type"),
      (h(10, id) % 50 + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 100000) / 10.0, 2).as("p_retailprice")),
      "part", 4 * times10)

    save(spark.range(nOrders).select(
      id.as("o_orderkey"),
      (h(11, id) % nCust).as("o_custkey"),
      pick(Seq("F", "O", "P"), 12).as("o_orderstatus"),
      round((h(13, id) % 40000000) / 100.0, 2).as("o_totalprice"),
      to_timestamp(date_add(lit("1996-01-01").cast("date"),
        (h(14, id) % 2100).cast("int"))).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        15).as("o_orderpriority")), "orders", 8 * times10)

    save(spark.range(nLine).select(
      (id / 4).as("l_orderkey"),
      (h(16, id) % nPart).as("l_partkey"),
      (h(17, id) % nSupp).as("l_suppkey"),
      (id % 7 + 1).cast("int").as("l_linenumber"),
      (h(18, id) % 50 + 1).cast("double").as("l_quantity"),
      round((h(19, id) % 10000000) / 100.0 + 900.0, 2).as("l_extendedprice"),
      ((h(20, id) % 11) / 100.0).as("l_discount"),
      ((h(21, id) % 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), 22).as("l_returnflag"),
      pick(Seq("F", "O"), 23).as("l_linestatus"),
      to_timestamp(date_add(lit("1996-01-01").cast("date"),
        (h(24, id) % 2100).cast("int"))).as("l_shipdate")),
      "lineitem", 16 * times10)

    // ts mirrors the shipped parquet's nanosecond int64: Spark has no
    // nanos timestamp, so the driver's timestamp[ns] column surfaces
    // as LongType and the events operators do their own `div` math —
    // emit the same raw nanos here
    save(spark.range(nEvents).select(
      id.as("event_id"),
      (lit(1704067200000000000L) + id * 600000000L +
        h(25, id) % 1000000000L).as("ts"),
      (h(26, id) % (200L * times10)).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), 27)
        .as("event_type"),
      round((h(28, id) % 100000) / 100.0, 2).as("value"),
      format_string("{\"k\": %d}", h(29, id) % 100).as("props")),
      "events", 8 * times10)

    val vocab = Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
      "agg", "filter", "query", "big", "key", "window", "row", "table",
      "stream", "merge", "data", "vector", "the", "and", "of", "in", "join")
    save(spark.range(nDocs).select(
      id.as("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(0), (h(30, id) % 140 + 10).cast("int")),
        i => element_at(array(vocab.map(lit): _*),
          (h(31, id, i) % vocab.size + 1).cast("int")))).as("text"),
      pick(Seq("de", "en", "es", "fr", "zh"), 32).as("lang"),
      concat(lit("src"), h(33, id) % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 2 * times10)

    save(spark.range(nVecs).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        d => ((h(34, id, d) % 2000) / lit(1000.0) - 1.0).cast("float"))
        .as("embedding"),
      (h(35, id) % 10).cast("int").as("label")), "embeddings", times10)
  }
}
