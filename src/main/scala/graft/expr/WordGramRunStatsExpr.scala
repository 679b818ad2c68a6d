package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram repetition statistics — the per-document kernel
  * of the Gopher repetition rules (the semantics of the sorted-run fold
  * `TextReference.gramRunStats` in the test tree)
  * computed in ONE pass over the raw UTF-8 bytes.
  *
  * Returns `struct(top_gram string, top_cnt bigint, dup_chars bigint)`:
  * the most frequent n-gram of `split(text, " ")` under the
  * (count DESC, gram ASC) order, its count, and the characters covered
  * by n-grams occurring ≥ 2 times — or NULL when the text has fewer
  * than `n` words.
  *
  * EQUIVALENCE to the array form
  * (`transform(sequence(...), i => concat_ws(" ", slice(ws, i, n)))`
  * over `ws = split(text, " ")`):
  *  - `split` on the literal single-space pattern cuts at every 0x20
  *    byte (space never occurs inside a multi-byte UTF-8 sequence) and
  *    keeps empty words (limit −1 semantics), so word k is exactly the
  *    byte span between separator k−1 and separator k;
  *  - `concat_ws(" ", words i..i+n−1)` re-joins with the SAME single
  *    space `split` consumed, so every n-gram is byte-for-byte the
  *    CONTIGUOUS SPAN of the original text from the start of word i to
  *    the end of word i+n−1 — a zero-copy `UTF8String` slice, no
  *    per-gram array/buffer allocation (the array form's dominant cost:
  *    2.1 s of q130's 2.5 s at sf0.1, CurateProbe r18);
  *  - sorting the slices (binary compare — identical to `sort_array`
  *    and to ORDER BY gram ASC) makes equal grams adjacent; run lengths
  *    are the per-gram counts, and replacing the champion only on a
  *    strictly greater count keeps the lexicographically smallest gram
  *    on ties, exactly `row_number() OVER (ORDER BY cnt DESC, gram
  *    ASC) = 1`.
  * RepetitionKernelSpec pins this expression against that HOF fold
  * on an adversarial corpus (multi-space runs, leading/trailing spaces,
  * empty words, multi-byte UTF-8); the q125/q130 oracles replay it.
  */
case class WordGramRunStatsExpr(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n-gram width must be >= 1")

  override def prettyName: String = "graft_word_gram_run_stats"
  override def nullable: Boolean = true
  override def dataType: DataType = WordGramRunStatsExpr.OutType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(s: Any): Any =
    WordGramRunStatsExpr.compute(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expr.WordGramRunStatsExpr.compute($c, $n);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGramRunStatsExpr {

  val OutType: StructType = StructType(Seq(
    StructField("top_gram", StringType, nullable = false),
    StructField("top_cnt", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))

  /** Static entry shared by eval and generated code. Returns null when
    * the text has fewer than `n` words. */
  def compute(text: UTF8String, n: Int): InternalRow = {
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
    if (words < n) return null
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var w = 0
    starts(0) = 0
    i = 0
    while (i < nBytes) {
      if (text.getByte(i) == 0x20) {
        ends(w) = i; w += 1; starts(w) = i + 1
      }
      i += 1
    }
    ends(w) = nBytes
    // n-gram k = the contiguous byte span [starts(k), ends(k + n - 1))
    val m = words - n + 1
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val grams = new Array[UTF8String](m)
    var k = 0
    while (k < m) {
      val s = starts(k); val e = ends(k + n - 1)
      grams(k) = UTF8String.fromAddress(base, off + s, e - s)
      k += 1
    }
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    // run walk: strictly-greater keeps the smallest gram on count ties
    var bestCnt = 0L
    var best: UTF8String = null
    var dupChars = 0L
    var run = 1L
    k = 1
    while (k <= m) {
      if (k < m && grams(k).equals(grams(k - 1))) run += 1
      else {
        val g = grams(k - 1)
        if (run > bestCnt) { bestCnt = run; best = g }
        if (run >= 2) dupChars += run * g.numChars()
        run = 1
      }
      k += 1
    }
    // clone the winner: the slice aliases the input row's (reused) buffer
    new GenericInternalRow(Array[Any](best.clone(), bestCnt, dupChars))
  }

  def column(text: Column, n: Int): Column =
    GraftBridge.column(WordGramRunStatsExpr(GraftBridge.expression(text), n))
}
