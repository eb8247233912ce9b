package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{BloomContains, CosineSimilarity, DotProductInt, HyperplaneCode}

/** Throughput probes for graft's native kernels over the workload's
  * own embeddings and documents. Each probe folds the kernel's output
  * into one aggregate, so every input row is evaluated and nothing but
  * the aggregate leaves the executors.
  */
object Kernels {

  /** name -> (rows evaluated, probe). Inputs are localCheckpointed
    * before timing, so a probe measures the kernel and not the scan.
    */
  def apply(spark: SparkSession, data: String): Seq[(String, (Long, () => Unit))] = {
    val emb = Tables.embeddings(spark, data)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        transform(col("embedding"), x => round(x * 127).cast("int")).as("q"))
      .localCheckpoint()
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .select(col("a.v").as("va"), col("b.v").as("vb"),
        col("a.q").as("qa"), col("b.q").as("qb"))
      .localCheckpoint()
    val nPairs = pairs.count()
    val reps = spark.range(200).toDF("rep")
    val vecs = emb.crossJoin(reps).localCheckpoint()
    val nVecs = vecs.count()
    val docs = Tables.documents(spark, data)
      .select(md5(col("text")).as("h")).crossJoin(reps).localCheckpoint()
    val nDocs = docs.count()
    val bits = BloomContains.build(
      docs.select(col("h")).distinct().collect().iterator.map(_.getString(0))
        .zipWithIndex.filter(_._2 % 2 == 0).map(_._1))

    def fold(df: DataFrame, e: Column): () => Unit =
      () => { df.agg(sum(e)).collect(); () }

    Seq(
      "cosine_sim" -> (nPairs -> fold(pairs, CosineSimilarity(col("va"), col("vb")))),
      "dot_int" -> (nPairs -> fold(pairs, DotProductInt(col("qa"), col("qb")))),
      "hyperplane_code" -> (nVecs -> fold(vecs, HyperplaneCode(col("v"), 16, 64) % 1024)),
      "bloom_contains" -> (nDocs -> fold(docs,
        when(BloomContains(lit(bits), col("h")), 1L).otherwise(0L))))
  }
}
