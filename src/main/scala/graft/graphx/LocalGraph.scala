package graft.graphx

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A metadata-scale edge relation on the driver: the (src, dst) rows
  * [[graft.Regime]] fetched, every distinct endpoint interned to an
  * Int once. Each algorithm returns exactly the rows its Spark twin
  * returns, nulls included, which follow the Spark joins:
  *  - a null src sends nothing (an equi-join never matches null);
  *  - an edge to a null dst is lost, though its sender counts it;
  *  - in the connected-components paths every endpoint is hashed with
  *    xxhash64, which maps every null to one id, so null is one
  *    vertex there like any other.
  * Vertices compare in the engine's own order for their type (binary
  * UTF-8 for strings), so minimum labels and (u, v) tie-breaks agree.
  * This runs the `analytics` graph keys at sf0.001 in 4-6 jobs each
  * instead of 17-59.
  */
private[graft] final class LocalGraph(rows: Array[Row], dt: DataType) {

  private val index = mutable.HashMap.empty[Any, Int]
  private val vertexBuf = mutable.ArrayBuffer.empty[Any]
  private var nullIx = -1

  private def intern(v: Any): Int =
    if (v == null) {
      if (nullIx < 0) { nullIx = vertexBuf.length; vertexBuf += null }
      nullIx
    } else index.getOrElseUpdate(v, { vertexBuf += v; vertexBuf.length - 1 })

  private val src: Array[Int] = rows.map(r => intern(r.get(0)))
  private val dst: Array[Int] = rows.map(r => intern(r.get(1)))
  private val vertex: Array[Any] = vertexBuf.toArray
  private def n = vertex.length

  /** rank(v): v's position in the engine's sort order (null: -1). */
  private lazy val rank: Array[Int] = {
    val key: Array[Comparable[Any]] = vertex.map {
      case s: String if dt.isInstanceOf[StringType] => UTF8String.fromString(s)
      case v => v
    }.map(_.asInstanceOf[Comparable[Any]])
    val r = Array.fill(n)(-1)
    vertex.indices.filter(_ != nullIx)
      .sortWith((a, b) => key(a).compareTo(key(b)) < 0)
      .zipWithIndex.foreach { case (v, i) => r(v) = i }
    r
  }

  /** [[Analytics.pageRank]]'s supersteps in its exact Long arithmetic,
    * over the edge multiset: (uri, rank) for every vertex.
    */
  def pageRank(iters: Int, scale: Long): Seq[Row] = {
    val outdeg = new Array[Long](n)
    for (i <- src.indices if src(i) != nullIx) outdeg(src(i)) += 1
    var ranks = Array.fill(n)(scale)
    for (_ <- 1 to iters) {
      val msum = new Array[Long](n)
      for (i <- src.indices if src(i) != nullIx && dst(i) != nullIx)
        msum(dst(i)) += ranks(src(i)) / outdeg(src(i))
      ranks = msum.map(m => scale * 15 / 100 + (m / 100) * 85 + ((m % 100) * 85) / 100)
    }
    vertex.indices.map(v => Row(vertex(v), ranks(v)))
  }

  /** Union-find over the undirected edges: each vertex's component
    * label, the component's minimum non-null vertex (null for a
    * component of the null vertex alone).
    */
  private def componentLabels: Array[Any] = {
    val parent = Array.tabulate(n)(identity)
    def find(v: Int): Int = {
      var r = v
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for (i <- src.indices) {
      val (a, b) = (find(src(i)), find(dst(i)))
      if (a != b) parent(a) = b
    }
    val least = mutable.HashMap.empty[Int, Int]
    for (v <- 0 until n if v != nullIx) {
      val r = find(v)
      if (least.get(r).forall(rank(_) > rank(v))) least(r) = v
    }
    Array.tabulate(n)(v => least.get(find(v)).map(vertex(_)).orNull)
  }

  /** [[Analytics.connectedComponents]]: (comp, size) per component. */
  def connectedComponents: Seq[Row] =
    componentLabels.groupMapReduce(identity)(_ => 1L)(_ + _)
      .map { case (comp, size) => Row(comp, size) }.toSeq

  /** [[graft.inference.SameAs.canonicalMap]]: (uri, canon) for every
    * non-null vertex that is not its component's canon.
    */
  def canonicalMap: Seq[Row] = {
    val label = componentLabels
    vertex.indices.collect {
      case v if v != nullIx && label(v) != vertex(v) => Row(vertex(v), label(v))
    }
  }

  /** [[Analytics.kCore]]'s synchronous peel over the doubled edge
    * multiset: each round drops every vertex whose degree is under `k`
    * (and every edge touching null, which no semi-join keeps), until a
    * round drops nothing; that no-op round counts, as in the Spark
    * loop. Returns the surviving vertices and the rounds run.
    */
  def kCore(k: Int, maxRounds: Int): (Seq[Row], Int) = {
    val deg = new Array[Long](n)
    val incident = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    for (e <- src.indices) {
      deg(src(e)) += 1; deg(dst(e)) += 1
      incident(src(e)) += e
      if (dst(e) != src(e)) incident(dst(e)) += e
    }
    val alive = Array.fill(src.length)(true)
    var candidates: Iterable[Int] = 0 until n
    var rounds = 0
    var converged = src.isEmpty
    while (!converged && rounds < maxRounds) {
      val doomed = candidates.filter(v => deg(v) > 0 && (v == nullIx || deg(v) < k)).toSeq
      val touched = mutable.HashSet.empty[Int]
      for (v <- doomed; e <- incident(v) if alive(e)) {
        alive(e) = false
        deg(src(e)) -= 1; deg(dst(e)) -= 1
        touched += src(e) += dst(e)
      }
      rounds += 1
      converged = touched.isEmpty
      candidates = touched
    }
    (vertex.indices.collect { case v if deg(v) > 0 => Row(vertex(v)) }, rounds)
  }

  /** [[Analytics.resourceAllocation]]'s top `k` over the
    * canonicalized edge set (least/greatest skip a null endpoint, so
    * an edge to null is a self-loop), with the same middle-degree cap
    * ([[Analytics.wedgeCap]] over this degree histogram). None once
    * more than `pairBudget` distinct pairs appear: the wedge output is
    * not bounded by the input, and that run goes to the Spark side
    * after at most `pairBudget` + max-degree wasted wedges.
    */
  def resourceAllocation(k: Int, wedgeBudget: Long, pairBudget: Long): Option[Seq[Row]] = {
    def pack(a: Int, b: Int) = (a.toLong << 32) | b
    val canon = mutable.HashSet.empty[Long]
    for (i <- src.indices) {
      val (a, b) =
        if (src(i) == nullIx) (dst(i), dst(i))
        else if (dst(i) == nullIx) (src(i), src(i))
        else if (rank(src(i)) <= rank(dst(i))) (src(i), dst(i))
        else (dst(i), src(i))
      canon += pack(a, b)
    }
    val nbrs = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    for (p <- canon) {
      val (a, b) = ((p >>> 32).toInt, p.toInt)
      nbrs(b) += a; nbrs(a) += b
    }
    val deg = nbrs.map(_.length.toLong)
    val cap = Analytics.wedgeCap(
      deg.filter(_ > 0).groupMapReduce(identity)(_ => 1L)(_ + _), wedgeBudget)
    val ra = mutable.LongMap.empty[Long]
    val cn = mutable.LongMap.empty[Long]
    val middles = (0 until n).iterator
      .filter(m => m != nullIx && deg(m) > 0 && deg(m) <= cap)
    var over = false
    while (!over && middles.hasNext) {
      val m = middles.next()
      val w = 1000000000L / deg(m)
      val vs = nbrs(m).sortBy(rank(_))
      var i = 0
      while (!over && i < vs.length) {
        for (j <- i + 1 until vs.length if rank(vs(i)) < rank(vs(j))) {
          val p = pack(vs(i), vs(j))
          ra(p) = ra.getOrElse(p, 0L) + w
          cn(p) = cn.getOrElse(p, 0L) + 1
        }
        over = ra.size > pairBudget
        i += 1
      }
    }
    if (over) None
    else Some(ra.iterator.filterNot { case (p, _) => canon(p) }.toSeq
      .sortBy { case (p, s) => (-s, rank((p >>> 32).toInt), rank(p.toInt)) }
      .take(k)
      .map { case (p, s) => Row(vertex((p >>> 32).toInt), vertex(p.toInt), s, cn(p)) })
  }
}
