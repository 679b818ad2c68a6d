package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Non-overlapping `w`-word span chunks of a document as ZERO-COPY byte
  * spans — the native kernel of `SpanDedup.spans` (q124 keep-first span
  * dedup, q312 boilerplate scrub).
  *
  * Returns `array(struct(span_no bigint, span string))` with
  * `ceil(words / w)` chunks, span k covering words (k−1)·w+1 … k·w
  * (the last chunk shorter).
  *
  * EQUIVALENCE to the array form
  * (`transform(sequence(1, ceil(size(ws)/w)), i =>
  *   struct(i, concat_ws(" ", slice(ws, (i−1)·w+1, w))))`
  * over `ws = split(text, " ")`) — the [[WordGramRunStatsExpr]]
  * argument specialized to non-overlapping chunks:
  *  - `split` on the literal single-space pattern cuts at every 0x20
  *    byte (a space byte never occurs inside a multi-byte UTF-8
  *    sequence) and keeps empty words, so word k is exactly the byte
  *    span between separator k−1 and separator k (any text has ≥ 1
  *    word — `split("")` is `[""]` — so there is always ≥ 1 chunk,
  *    the `greatest(nSpans, 1)` guard of the array form);
  *  - `concat_ws(" ", words a…b)` re-joins with the SAME single space
  *    `split` consumed, so every chunk is byte-for-byte the CONTIGUOUS
  *    SPAN of the original text from the start of word a to the end of
  *    word b — a zero-copy `UTF8String` slice (cloned once on emit;
  *    the slice aliases the input row's reused buffer), no per-chunk
  *    word-array/buffer construction, which is the array form's
  *    dominant cost (BoilerProbe r18: the spans stage is 0.6 s of
  *    q312's 2.1 s at sf0.1 and runs TWICE — census and verdict-join
  *    branches).
  * SpanDedupSpec pins this expression against the array form
  * (`TextReference.spansArrayForm` in the test tree) on
  * an adversarial corpus (multi-space runs, leading/trailing spaces,
  * multi-byte UTF-8, empty and single-word docs); the q124/q312
  * oracles replay it.
  */
case class WordSpanChunksExpr(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 1, "span width must be >= 1")

  override def prettyName: String = "graft_word_span_chunks"
  override def nullable: Boolean = true
  override def dataType: DataType = WordSpanChunksExpr.OutType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(s: Any): Any =
    WordSpanChunksExpr.compute(s.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expr.WordSpanChunksExpr.compute($c, $w);
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordSpanChunksExpr {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("span_no", LongType, nullable = false),
    StructField("span", StringType, nullable = false))),
    containsNull = false)

  /** Static entry shared by eval and generated code. */
  def compute(text: UTF8String, w: Int): GenericArrayData = {
    val nBytes = text.numBytes()
    // word boundaries: a 0x20 byte ends the current word (split(" ")
    // keeps empty words, including leading/trailing ones)
    var spaces = 0
    var i = 0
    while (i < nBytes) {
      if (text.getByte(i) == 0x20) spaces += 1
      i += 1
    }
    val words = spaces + 1
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var wi = 0
    starts(0) = 0
    i = 0
    while (i < nBytes) {
      if (text.getByte(i) == 0x20) {
        ends(wi) = i; wi += 1; starts(wi) = i + 1
      }
      i += 1
    }
    ends(wi) = nBytes
    // chunk k (1-based) = the contiguous byte span from the start of
    // word (k-1)*w to the end of word min(k*w, words) - 1
    val nChunks = (words + w - 1) / w
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val out = new Array[Any](nChunks)
    var k = 0
    while (k < nChunks) {
      val s = starts(k * w)
      val e = ends(math.min((k + 1) * w, words) - 1)
      out(k) = new GenericInternalRow(Array[Any](
        (k + 1).toLong,
        UTF8String.fromAddress(base, off + s, e - s).clone()))
      k += 1
    }
    new GenericArrayData(out)
  }

  def column(text: Column, w: Int): Column =
    GraftBridge.column(WordSpanChunksExpr(GraftBridge.expression(text), w))
}
