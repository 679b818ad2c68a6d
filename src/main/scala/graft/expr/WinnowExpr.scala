package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for TRUE winnowing (Schleimer, Wilkerson
  * & Aiken 2003): the distinct (pos, fp) fingerprint selections of a
  * document — rightmost minimal k-gram hash of each w-window — in one
  * O(len) pass.
  *
  * Why not the Column formulation (`TextReference.winnowHof` in the
  * test tree): it explodes
  * one row per window position, and each exploded row copies the FULL
  * per-document hash array into its UnsafeRow — O(len²) bytes of
  * shuffle-side traffic per document — and the per-shingle polynomial
  * hash is the interpreted `aggregate(transform(...))` HOF, O(len·k)
  * boxed lambda frames. This expression computes the k-gram hashes by
  * Karp–Rabin rolling arithmetic (the PolyFingerprintExpr recipe) and
  * selects window minima with a monotonic deque (pop-back on `>=`, so
  * the deque front is always the RIGHTMOST minimal hash of the current
  * window — the tie rule of the arithmetic form
  * `j + w − array_position(reverse(win), array_min(win))`). Selections
  * are non-decreasing in pos as the window slides, so suppressing
  * consecutive repeats yields exactly the distinct per-document set and
  * the downstream global `.distinct()` shuffle disappears.
  *
  * Value-identical to the HOF form (pinned by TextOpsSpec parity on
  * real corpus text, and by the q290 oracle which replays the identical
  * formula with DuckDB list functions). Codepoint-based like
  * PolyFingerprintExpr so multibyte text hashes identically to the
  * character-indexed SQL.
  *
  * Output: array<struct<pos:long, fp:long>> ordered by pos ascending;
  * empty for docs shorter than k. */
case class WinnowExpr(child: Expression, k: Int, w: Int)
  extends UnaryExpression {

  override def dataType: DataType = WinnowExpr.schema
  override def prettyName: String = "graft_winnow"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(s: Any): Any =
    WinnowExpr.compute(s.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.WinnowExpr.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowExpr {
  final val M = 1000000007L

  val schema: DataType = ArrayType(
    new StructType()
      .add("pos", LongType, nullable = false)
      .add("fp", LongType, nullable = false),
    containsNull = false)

  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    val m = n - (k - 1)
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    // k-gram polynomial hashes, rolling: h(i) = fold(acc*31+cp mod M)
    // over cps[i, i+k); identical value mod M to the per-gram fold.
    val h = new Array[Long](m)
    var acc = 0L
    var i = 0
    while (i < k) { acc = (acc * 31L + cps(i)) % M; i += 1 }
    h(0) = acc
    var pw = 1L; i = 0
    while (i < k - 1) { pw = pw * 31L % M; i += 1 }
    i = k
    while (i < n) {
      acc = (acc - cps(i - k) * pw % M + M) % M
      acc = (acc * 31L + cps(i)) % M
      h(i - k + 1) = acc
      i += 1
    }
    val we = math.min(w, m)
    // sliding rightmost-min: monotonic deque over indices, pop-back on
    // >= so a later equal hash displaces an earlier one.
    val dq = new Array[Int](m)
    var head = 0; var tail = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var last = -1
    i = 0
    while (i < m) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i; tail += 1
      val j = i - we + 1 // 0-based window start
      if (j >= 0) {
        while (dq(head) < j) head += 1
        val p = dq(head)
        if (p != last) {
          out += new GenericInternalRow(Array[Any]((p + 1).toLong, h(p)))
          last = p
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def column(text: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowExpr(GraftBridge.expression(text), k, w))
}
