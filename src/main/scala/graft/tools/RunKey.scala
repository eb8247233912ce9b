package graft.tools

/** Dev loop helper: run one SparkEntry key against a data dir and
  * print its rows (sorted, truncate=false) — the fast local
  * counterpart of the driver's full Verify+DuckDB pass.
  *
  * Usage: sbt "runMain graft.tools.RunKey <key> [sfDir] [n]"
  */
object RunKey {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val n = if (args.length > 2) args(2).toInt else 50
    // Verify's session, so the rows are the ones Verify writes
    val spark = graft.Harness.session(4)
    val df = graft.SparkEntry.queries(key)(spark, dir)
    val cols = df.columns.sorted
    df.orderBy(cols.map(org.apache.spark.sql.functions.col): _*)
      .show(n, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
