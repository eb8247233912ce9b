package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

import graft.{Checkpoints, Graft, SparkEntry}
import graft.graphx.Analytics
import graft.inference.Reasoner
import graft.pipeline.Dedup
import graft.rdf.{PropertyGraph, TripleStats, TripleStore}
import graft.sparql.SparqlParser

/** Benchmark program: one workload, one client thread, closed loop.
  *
  * `Main <plan.json>` reads the plan written by `run.py` (the seeded
  * operation stream, data paths and run settings), builds the store
  * `setups` times, runs the warm-up pass, then runs every round of the
  * plan. Every operation's rows are written, outside the timed region,
  * for `run.py` to check against its reference answer.
  */
object Main {

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val t0 = System.nanoTime()
    val base = session(plan)
    val sessionS = secs(t0)
    val bench = new Bench(base, plan)
    try bench.run(sessionS)
    finally base.stop()
  }

  private def session(plan: JsonNode): SparkSession = {
    val cpus = plan.get("cpus").asInt
    val scratch = plan.get("scratch").asText
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/tmp")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def str(n: JsonNode, k: String): String = n.get(k).asText
  def strs(n: JsonNode, k: String): Seq[String] =
    Option(n.get(k)).map(_.elements().asScala.map(_.asText).toSeq)
      .getOrElse(Seq.empty)

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(UTF_8))
  }
}

/** One timed operation's outcome, written to `ops.jsonl`. */
final case class OpRecord(seq: Int, op: Int, round: Int, traced: Boolean,
                          latencyS: Double, releaseS: Double,
                          result: String, rows: Long, error: String)

/** An operation's answer: its column names and collected rows. */
final case class Res(cols: Seq[String], rows: Seq[Row])

final class Bench(base: SparkSession, plan: JsonNode) {
  import Main._

  private val data = str(plan, "data")
  private val out = str(plan, "out")
  private val traced = plan.get("trace").asBoolean
  private val ops = plan.get("ops").elements().asScala.toIndexedSeq
  private val rounds = plan.get("rounds").elements().asScala
    .map(_.elements().asScala.map(_.asInt).toIndexedSeq).toIndexedSeq

  private var spark = base
  private val tracer = new Tracer(base.sparkContext, traced)
  private val results = new ResultStore(s"$out/results")
  private val keysRun = mutable.LinkedHashSet.empty[String]
  private val kernelRates = mutable.LinkedHashMap.empty[String, Double]

  def run(sessionS: Double): Unit = {
    val builds = (0 until plan.get("setups").asInt).map(build)
    val w0 = System.nanoTime()
    tracer.on = traced
    // traced warm-up operations get ids -1000-k, so their counts sit
    // beside the timed operations' in the per-type count spread
    plan.get("warmup").elements().asScala.zipWithIndex.foreach { case (i, k) =>
      tracer.beginOp(-1000 - k)
      tracer.span("setup.warmup")(execute(ops(i.asInt)))
      release()
      tracer.endOp()
    }
    val warmupS = secs(w0)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val loopStart = System.nanoTime()
    // the traced run traces every other type by its fixed index,
    // flipping the parity each round, so over its two rounds every type
    // is timed once traced and once untraced in one process and the
    // tracing overhead is not confounded with warm-up
    rounds.zipWithIndex.foreach { case (round, r) =>
      round.foreach { i =>
        val tix = ops(i).get("tix").asInt
        records += timed(records.size, i, r, traced && (tix + r) % 2 == 0)
      }
    }
    val loopS = secs(loopStart)
    val heldB = heldBytes()
    if (traced) kernels()
    report(sessionS, builds, warmupS, records.toSeq, loopS, heldB)
  }

  /** One store set-up: a fresh session over the shared context, then
    * the store build through its first count and the TripleStats
    * profile. Each later set-up first evicts the store the
    * previous one built, so every build is cold.
    */
  private def build(i: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    tracer.on = traced
    tracer.beginOp(-10 - i)
    if (i > 0) {
      TripleStore.evictTriples(spark, data)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark = base.newSession()
    }
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    Graft.registerFunctions(spark)
    val b0 = System.nanoTime()
    val store = tracer.span("rdf.store_build") {
      val st = Graft.triples(spark, data)
      m("rdf.store_triples") = st.count().toDouble
      st
    }
    m("rdf.store_build_s") = secs(b0)
    m("rdf.store_mb") = heldBytes() / 1e6
    val p0 = System.nanoTime()
    tracer.span("rdf.stats_profile")(TripleStats.forFrame(store))
    m("rdf.stats_profile_s") = secs(p0)
    tracer.endOp()
    m("build_s") = secs(t0)
    m.toMap
  }

  private def release(): Unit = {
    Dedup.releaseCaches()
    Analytics.releaseCaches()
    Checkpoints.releaseCaches(blocking = true)
  }

  private def heldBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def timed(seq: Int, i: Int, round: Int, on: Boolean): OpRecord = {
    tracer.on = on
    tracer.beginOp(seq)
    val t0 = System.nanoTime()
    val outcome = Try(tracer.span("op") {
      val res = execute(ops(i))
      tracer.note("held_b", heldBytes().toDouble)
      res
    })
    val latency = secs(t0)
    // Graft.query parses and compiles in one call; the traced run
    // parses the text once more, outside the latency, for the parse share
    if (on && str(ops(i), "kind") == "sparql") parse(ops(i))
    val answer = outcome.flatMap(res => Try(results.save(res.cols, res.rows)))
    val (result, rows) = answer.getOrElse(("", 0L))
    val error = answer.failed.map(e =>
      s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)).getOrElse("")
    val r0 = System.nanoTime()
    release()
    val rel = secs(r0)
    tracer.endOp()
    OpRecord(seq, i, round, on, latency, rel, result, rows, error)
  }

  private def collectRes(df: DataFrame): Res = {
    if (tracer.on) tracer.span("catalyst.plan") {
      val p = df.queryExecution.executedPlan
      val phys = p match { case a: AdaptiveSparkPlanExec => a.inputPlan; case o => o }
      tracer.note("plan_nodes", phys.collectWithSubqueries { case n: SparkPlan => n }.size)
      tracer.note("exchanges", phys.collectWithSubqueries { case e: Exchange => e }.size)
    }
    val rows = tracer.span("exec") {
      val r = df.collect().toSeq
      tracer.note("rows", r.size)
      tracer.note("local_dir_b", dirBytes(new File(str(plan, "scratch"), "local")))
      r
    }
    Res(df.columns.toSeq, rows)
  }

  private def execute(op: JsonNode): Res = str(op, "kind") match {
    case "sparql" =>
      val store = Graft.triples(spark, data)
      val df = tracer.span("sparql.query")(Graft.query(store, str(op, "text")))
      val typed = strs(op, "numeric").foldLeft(df)((d, c) =>
        d.withColumn(c, col(c).cast("double")))
      val sel = strs(op, "select")
      collectRes(if (sel.isEmpty) typed else typed.select(sel.map(col): _*))
    case "reasoner" =>
      val dim = TripleStore.dimensionTriples(spark, data)
      val df = tracer.span("inference.reasoner") {
        str(op, "fn") match {
          case "nodesWithLabel" => Reasoner.nodesWithLabel(spark, dim, str(op, "arg"))
          case "nodesInCategory" => Reasoner.nodesInCategory(spark,
            PropertyGraph.edges(dim), str(op, "arg"), ":inRegion", ":hasNation")
        }
      }
      collectRes(df)
    case "key" =>
      val key = str(op, "key")
      keysRun += key
      val df = tracer.span(str(op, "layer") + ".call")(
        SparkEntry.queries(key)(spark, data))
      collectRes(df)
  }

  private def parse(op: JsonNode): Unit =
    tracer.span("sparql.parse") {
      val text = str(op, "text")
      str(op, "form") match {
        case "SELECT" => SparqlParser.parse(text)
        case "ASK" => SparqlParser.parseAsk(text)
        case "CONSTRUCT" => SparqlParser.parseConstruct(text)
        case "DESCRIBE" => SparqlParser.parseDescribeQuery(text)
      }
    }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Rows per second of graft's four native kernels over the workload's
    * own embeddings and documents (traced run only).
    */
  private def kernels(): Unit = {
    tracer.on = true
    tracer.beginOp(-100)
    Kernels(spark, data).foreach { case (name, (rows, body)) =>
      body() // warm the generated code once
      val t0 = System.nanoTime()
      tracer.span(s"functions.$name") {
        body()
        tracer.note("rows", rows.toDouble)
      }
      kernelRates(name) = rows / secs(t0)
    }
    tracer.endOp()
  }

  private def report(sessionS: Double, builds: Seq[Map[String, Double]],
                     warmupS: Double, records: Seq[OpRecord], loopS: Double,
                     heldB: Long): Unit = {
    val j = new JsonWriter
    records.foreach { r =>
      j.obj("seq" -> r.seq, "op" -> r.op, "round" -> r.round,
        "traced" -> r.traced, "latency_s" -> r.latencyS,
        "release_s" -> r.releaseS, "result" -> r.result, "rows" -> r.rows,
        "error" -> r.error)
      j.newline()
    }
    write(s"$out/ops.jsonl", j.result())

    val s = new JsonWriter
    tracer.all.foreach { sp =>
      s.obj(Seq[(String, Any)]("id" -> sp.id, "parent" -> sp.parent,
        "op" -> sp.op, "name" -> sp.name, "start_ns" -> sp.startNs,
        "end_ns" -> sp.endNs) ++ sp.counts.toSeq: _*)
      s.newline()
    }
    write(s"$out/spans.jsonl", s.result())

    val oracle = keysRun.toSeq.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))
    val o = new JsonWriter
    o.obj(oracle: _*)
    write(s"$out/oracle_sql.json", o.result())

    // the conf minus per-process values (app id, host, port) and the
    // JVM options Spark adds itself
    val conf = spark.sparkContext.getConf.getAll.filterNot { case (k, _) =>
      k.startsWith("spark.app.") || k.endsWith(".host") || k.endsWith(".port") ||
        k.endsWith(".extraJavaOptions") || k == "spark.executor.id"
    }
    val r = new JsonWriter
    r.obj("session_s" -> sessionS, "loop_s" -> loopS, "held_b" -> heldB,
      "builds" -> builds, "warmup_s" -> warmupS, "kernels" -> kernelRates.toMap,
      "spark_version" -> spark.version, "conf" -> conf.toMap)
    write(s"$out/run.json", r.result())
  }
}
