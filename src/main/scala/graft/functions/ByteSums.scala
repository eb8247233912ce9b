package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused codegen kernels for the multimodal per-row block statistics
  * (guide step 4: non-codegen expressions in the hot path).
  *
  * The composable forms these replace are higher-order-function trees
  * — `aggregate(sequence(a, b), 0L, (acc, p) => acc +
  * ascii(text.substr(p, 1)))` — which Catalyst executes on the
  * INTERPRETED path (HOFs are CodegenFallback): one lambda dispatch,
  * one `substr` UTF8String allocation and one `ascii` decode per BYTE
  * of every window/block. These expressions run the same fold as one
  * tight loop over the string's bytes with zero per-byte allocation.
  *
  * Value semantics are IDENTICAL to the trees they replace (the
  * DuckDB oracle re-checks every consumer key): Spark's `ascii` is
  * `codePointAt(0)` of the 1-length `substr` (0 when the position is
  * past the end), and `substr` positions are CODE-POINT indices. The
  * fast path below applies when the string is pure ASCII (numBytes ==
  * numChars, byte value == code point); otherwise a fallback walks
  * code points exactly like the `substr`/`ascii` pair would. A NULL
  * input is NULL, matching the null-propagation of the HOF tree.
  */
object ByteSums {

  /** Σ ascii(substr(str, start + i, 1)) for i in 1..win — the audio
    * window energy fold. `start` is the 0-based window offset.
    */
  def windowSum(str: UTF8String, start: Long, win: Int): Long = {
    val nb = str.numBytes()
    var sum = 0L
    if (isAscii(str, nb)) {
      val base = str.getBaseObject
      val off = str.getBaseOffset
      // 0-based byte index of the first summed byte; both callers
      // explode sequence(0, …) so start is never negative — clamp all
      // the same so a bad offset cannot read out of bounds
      var p = math.max(start, 0L)
      val end = math.min(start + win, nb.toLong)
      while (p < end) {
        sum += org.apache.spark.unsafe.Platform.getByte(base, off + p)
        p += 1
      }
      sum
    } else {
      // 0-based code-point range of the window, clipped at the front;
      // substring walks lead bytes up to its end (as `substr` does)
      // and only the window's code points are decoded
      val lo = math.min(math.max(start, 0L), Int.MaxValue.toLong).toInt
      val hi = math.min(start + win, Int.MaxValue.toLong).toInt
      if (lo < hi) {
        val w = str.substring(lo, hi).toString
        var ci = 0
        while (ci < w.length) {
          val cp = w.codePointAt(ci)
          sum += cp
          ci += Character.charCount(cp)
        }
      }
      sum
    }
  }

  /** Per-block byte sums of the block-mean perceptual hash: block k
    * (0-based, of `blocks`) covers 1-based positions
    * floor(len·k/blocks)+1 .. floor(len·(k+1)/blocks), bounds computed
    * with the same double-division floor as the column expression it
    * replaces (exact for any len·k < 2⁵³, and floor(double) ==
    * integer division there — kept in double form so the equivalence
    * is by construction, not by argument).
    */
  def blockSums(str: UTF8String, blocks: Int): GenericArrayData = {
    val out = new Array[Long](blocks)
    val nb = str.numBytes()
    if (isAscii(str, nb)) {
      val base = str.getBaseObject
      val off = str.getBaseOffset
      val len = nb.toLong
      var k = 0
      var lo = 0 // floor(len*k/blocks), 0-based start byte of block k
      while (k < blocks) {
        val hi = math.floor((len * (k + 1)).toDouble / blocks).toInt
        var sum = 0L
        var p = lo
        while (p < hi) {
          sum += org.apache.spark.unsafe.Platform.getByte(base, off + p)
          p += 1
        }
        out(k) = sum
        lo = hi
        k += 1
      }
    } else {
      val cps = codePoints(str)
      val len = cps.length.toLong
      var k = 0
      var lo = 0
      while (k < blocks) {
        val hi = math.floor((len * (k + 1)).toDouble / blocks).toInt
        var sum = 0L
        var p = lo
        while (p < hi) { sum += cps(p); p += 1 }
        out(k) = sum
        lo = hi
        k += 1
      }
    }
    new GenericArrayData(out)
  }

  private def isAscii(str: UTF8String, nb: Int): Boolean =
    str.numChars() == nb

  /** Code-point array of a non-ASCII string — the exact values
    * ascii(substr(str, p, 1)) yields per position p.
    */
  private def codePoints(str: UTF8String): Array[Int] = {
    val s = str.toString
    val n = s.codePointCount(0, s.length)
    val out = new Array[Int](n)
    var ci = 0
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(ci)
      out(i) = cp
      ci += Character.charCount(cp)
      i += 1
    }
    out
  }

  def byteWindowSum(text: Column, start: Column, win: Int): Column =
    GraftSqlBridge.column(ByteWindowSum(
      GraftSqlBridge.expression(text), GraftSqlBridge.expression(start), win))

  def byteBlockSums(text: Column, blocks: Int): Column =
    GraftSqlBridge.column(ByteBlockSums(GraftSqlBridge.expression(text), blocks))
}

/** Window byte-energy fold: Σ_{i=1..win} ascii(substr(str, start+i, 1)). */
case class ByteWindowSum(left: Expression, right: Expression, win: Int)
  extends BinaryExpression {

  require(win >= 0, s"win must be non-negative, got $win")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, int/long), got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "byte_window_sum"

  override protected def nullSafeEval(str: Any, start: Any): Any = {
    val s = start match {
      case i: java.lang.Integer => i.longValue()
      case l: java.lang.Long => l.longValue()
    }
    ByteSums.windowSum(str.asInstanceOf[UTF8String], s, win)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (str, start) =>
      s"${ev.value} = graft.functions.ByteSums.windowSum($str, (long)$start, $win);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteWindowSum =
    copy(left = newLeft, right = newRight)
}

/** Block-mean hash block sums: array of `blocks` byte-sum longs. */
case class ByteBlockSums(child: Expression, blocks: Int)
  extends UnaryExpression {

  require(blocks >= 1, s"blocks must be positive, got $blocks")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "byte_block_sums"

  override protected def nullSafeEval(str: Any): Any =
    ByteSums.blockSums(str.asInstanceOf[UTF8String], blocks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = graft.functions.ByteSums.blockSums($str, $blocks);")

  override protected def withNewChildInternal(newChild: Expression): ByteBlockSums =
    copy(child = newChild)
}
