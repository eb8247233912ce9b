package graft.pipeline

import org.apache.spark.sql.Row

/** A metadata-scale embedding table on the driver: the (vec_id, label,
  * v) rows [[graft.Regime]] fetched for [[Similarity.pqTopK]] and
  * [[Similarity.ivfPqTopK]]. Each step repeats its Spark twin's
  * arithmetic in the same order, so the answers are the Spark side's
  * rows:
  *  - centroids are per-label sums in the fetched row order over the
  *    count, as `avg` computes them;
  *  - the codebook sample is the same md5 bucket and per-label cap,
  *    and its entries are Spark `percentile(x, 0.5)` medians;
  *  - squared distances, partial dot products and cosines fold
  *    left to right from 0.0, as the `aggregate` lambdas and
  *    [[graft.functions.CosineSimilarity]] do;
  *  - doubles order as the engine orders them (NaN above every number,
  *    -0.0 equal to 0.0), ties going to the smaller label or vec_id.
  * This answers `ann_ivf_pq_topk` at sf0.001 in at most 2 jobs instead
  * of 14, with no planning of the composed index.
  */
private[graft] final class LocalVectors private (
    ids: Array[Long], labels: Array[Int], vs: Array[Array[Double]]) {

  import LocalVectors._

  private val index: Map[Long, Int] = ids.indices.map(i => ids(i) -> i).toMap

  /** [[Similarity.pqTopK]]: the top `k` vec_ids by ADC score over every
    * vector but the query. None where the Spark side raises an error: a
    * negative `k`, or ADC partials whose sum could overflow a Long.
    */
  def pqTopK(queryId: Long, k: Int, pq: Pq): Option[Seq[Row]] =
    if (k < 0) None
    else index.get(queryId).fold(Option(Seq.empty[Row])) { q =>
      adcScores(q, ids.indices.filter(_ != q), pq)
        .map(top(_, k)(java.lang.Long.compare).map(i => Row(ids(i))))
    }

  /** [[Similarity.ivfPqTopK]]: probe the `nprobe` labels whose centroid
    * is nearest the query, ADC-score their vectors, and rerank the top
    * `rerank` by exact cosine. None as for [[pqTopK]], a negative
    * `nprobe` or `rerank` included.
    */
  def ivfPqTopK(queryId: Long, k: Int, nprobe: Int, rerank: Int,
                pq: Pq): Option[Seq[Row]] =
    if (k < 0 || nprobe < 0 || rerank < 0) None
    else index.get(queryId).fold(Option(Seq.empty[Row])) { q =>
      val probed = centroids.toSeq
        .map { case (label, cv) => (label, cosine(cv, vs(q))) }
        .sortWith { case ((la, ca), (lb, cb)) =>
          val c = compareDoubles(cb, ca)
          c < 0 || c == 0 && la < lb
        }
        .take(nprobe).map(_._1).toSet
      adcScores(q, ids.indices.filter(i => i != q && probed(labels(i))), pq).map { scores =>
        val shortlist = top(scores, rerank)(java.lang.Long.compare)
        top(shortlist.map(i => i -> cosine(vs(i), vs(q))), k)(compareDoubles)
          .map(i => Row(ids(i)))
      }
    }

  /** The `n` best of (index, score) by (score desc, vec_id), with
    * `cmp` the engine's order on scores.
    */
  private def top[S](scored: Seq[(Int, S)], n: Int)(cmp: (S, S) => Int): Seq[Int] =
    scored.sortWith { case ((a, sa), (b, sb)) =>
      val c = cmp(sb, sa)
      c < 0 || c == 0 && ids(a) < ids(b)
    }.take(n).map(_._1)

  /** Per-label mean vectors, each summed in the fetched row order. */
  private def centroids: Map[Int, Array[Double]] =
    ids.indices.groupBy(labels(_)).map { case (label, members) =>
      val sum = new Array[Double](vs(members.head).length)
      for (i <- members; d <- sum.indices) sum(d) += vs(i)(d)
      label -> sum.map(_ / members.length.toDouble)
    }

  /** (candidate, score) for every candidate: each subspace encodes to
    * the nearest codebook label, and the score sums the query's
    * fixed-point partial dot products with those entries. Empty when
    * the codebook is; None when a partial is too large to sum safely.
    */
  private def adcScores(q: Int, cand: Seq[Int], pq: Pq): Option[Seq[(Int, Long)]] = {
    val book = codebook(pq)
    if (book.isEmpty) return Some(Seq.empty)
    def slice(v: Array[Double], s: Int) = v.slice(s * pq.sub, (s + 1) * pq.sub)
    val limit = Long.MaxValue / (pq.subspaces + 1)
    // adc(s)(j): the query's partial for codebook label book(j)._1
    val adc = Array.tabulate(pq.subspaces) { s =>
      val qs = slice(vs(q), s)
      book.map { case (_, cvs) => math.floor(dot(qs, cvs(s)) * pq.scale).toLong }
    }
    if (adc.exists(_.exists(p => p > limit || p < -limit))) return None
    Some(cand.map { i =>
      var score = 0L
      for (s <- 0 until pq.subspaces) {
        val vsub = slice(vs(i), s)
        var best = 0
        var bestD2 = sqDist(vsub, book(0)._2(s))
        for (j <- 1 until book.length) {
          val d2 = sqDist(vsub, book(j)._2(s))
          if (compareDoubles(d2, bestD2) < 0) { best = j; bestD2 = d2 }
        }
        score += adc(s)(best)
      }
      i -> score
    })
  }

  /** (label, entry per subspace) in label order, for every label with
    * a sampled row: each entry is the per-dimension median of the
    * label's sampled slices.
    */
  private def codebook(pq: Pq): Array[(Int, Array[Array[Double]])] =
    ids.indices.map(i => (labels(i), bucket(ids(i)), i))
      .filter(_._2 < pq.samplePct)
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (label, rows) =>
        label -> rows.sortBy { case (_, hb, i) => (hb, ids(i)) }.take(pq.sampleCap).map(_._3)
      }
      .collect { case (label, kept) if kept.nonEmpty =>
        label -> Array.tabulate(pq.subspaces, pq.sub) { (s, d) =>
          median(kept.map(i => vs(i)(s * pq.sub + d)).toArray)
        }
      }
}

private[graft] object LocalVectors {

  /** The product-quantizer settings [[Similarity.pqTopK]] and
    * [[Similarity.ivfPqTopK]] share; `sub` is each subspace's width.
    */
  final case class Pq(subspaces: Int, sub: Int, scale: Double,
                      samplePct: Int, sampleCap: Int)

  /** `rows` (vec_id bigint, label int, v array<double>) on the driver,
    * or None when the Spark side's answer depends on something these
    * folds do not repeat: a null or duplicated vec_id, a null label or
    * the smallest int (whose negation overflows on the Spark side), a
    * null, non-finite or null-holding vector, or one whose length is
    * not `width`.
    */
  def apply(rows: Array[Row], width: Int): Option[LocalVectors] = {
    def fits(r: Row) = !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
      r.getInt(1) != Int.MinValue && {
        val v = r.getSeq[Any](2)
        v.length == width && v.forall {
          case x: Double => java.lang.Double.isFinite(x)
          case _ => false
        }
      }
    if (rows.isEmpty || !rows.forall(fits) ||
        rows.map(_.getLong(0)).distinct.length != rows.length) None
    else Some(new LocalVectors(rows.map(_.getLong(0)), rows.map(_.getInt(1)),
      rows.map(_.getSeq[Double](2).toArray)))
  }

  /** The engine's double order: NaN above every number, -0.0 = 0.0. */
  private def compareDoubles(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** `conv(substring(md5(cast(vec_id as string)), 1, 4), 16, 10) % 100`. */
  private def bucket(id: Long): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 100
  }

  /** Spark `percentile(x, 0.5)`: the value at position (n - 1) / 2 of
    * the sorted values, linearly interpolated when that falls between
    * two different values.
    */
  private def median(xs: Array[Double]): Double = {
    java.util.Arrays.sort(xs)
    val position = (xs.length - 1).toLong * 0.5
    val lower = position.floor.toLong
    val higher = position.ceil.toLong
    val (lo, hi) = (xs(lower.toInt), xs(higher.toInt))
    if (higher == lower || java.lang.Double.compare(lo, hi) == 0) lo
    else (higher - position) * lo + (position - lower) * hi
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc = acc + (a(i) - b(i)) * (a(i) - b(i)); i += 1 }
    acc
  }

  /** [[graft.functions.CosineSimilarity]]: 0.0 for a zero norm. */
  private def cosine(x: Array[Double], y: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < x.length) {
      dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na) / math.sqrt(nb)
  }
}
