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
    * ([[Analytics.wedgeCap]] over this degree histogram). Wedges sum
    * per first endpoint into primitive arrays: over the 8,899 sf0.001
    * co-order edges a warm call takes 10-16 ms, where boxed maps keyed
    * by pair took 188-247 ms (`graph_resource_alloc`'s driver side).
    * None once more than `pairBudget` distinct pairs appear: the wedge
    * output is not bounded by the input, and that run goes to the
    * Spark side after at most `pairBudget` pairs plus one endpoint's
    * wedges of wasted work.
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
    val adj = nbrs.map(_.toArray)
    val deg = adj.map(_.length.toLong)
    val cap = Analytics.wedgeCap(
      deg.filter(_ > 0).groupMapReduce(identity)(_ => 1L)(_ + _), wedgeBudget)
    // a middle's 1/deg weight, 0 for a vertex that is no middle
    val w = Array.tabulate(n)(m =>
      if (m != nullIx && deg(m) > 0 && deg(m) <= cap) 1000000000L / deg(m) else 0L)
    // each first endpoint u sums its wedges (u, m, v), rank u < rank v,
    // into arrays over v; `touched` lists the v it reached, and the
    // kept top k is a heap whose head is the worst kept pair
    val r = rank
    val ra = new Array[Long](n)
    val cn = new Array[Long](n)
    val touched = new Array[Int](n)
    val order = Ordering.by((t: (Int, Int, Long, Long)) => (-t._3, r(t._1), r(t._2)))
    val kept = mutable.PriorityQueue.empty[(Int, Int, Long, Long)](order)
    var pairs = 0L
    var u = 0
    while (u < n && pairs <= pairBudget) {
      var reached = 0
      for (m <- adj(u) if w(m) > 0) {
        val vs = adj(m)
        var j = 0
        while (j < vs.length) {
          val v = vs(j)
          if (r(u) < r(v)) {
            if (cn(v) == 0) { touched(reached) = v; reached += 1 }
            ra(v) += w(m); cn(v) += 1
          }
          j += 1
        }
      }
      pairs += reached
      for (i <- 0 until reached) {
        val v = touched(i)
        val t = (u, v, ra(v), cn(v))
        if (k > 0 && !canon(pack(u, v)) && (kept.size < k || order.lt(t, kept.head))) {
          kept += t
          if (kept.size > k) kept.dequeue()
        }
        ra(v) = 0; cn(v) = 0
      }
      u += 1
    }
    if (pairs > pairBudget) None
    else Some(kept.dequeueAll[(Int, Int, Long, Long)].reverse
      .map { case (a, b, score, c) => Row(vertex(a), vertex(b), score, c) })
  }
}
