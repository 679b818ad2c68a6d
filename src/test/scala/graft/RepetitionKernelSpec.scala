package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r18 gram-kernel equivalence pins: the zero-copy byte-span expression
  * ([[graft.expr.WordGramRunStatsExpr]]), the HOF sorted-run fold
  * ([[TextReference.gramRunStats]]) and the ORIGINAL explode → (doc, gram)
  * aggregate → ranking-window form must produce the identical
  * (top_gram, top_cnt, dup_chars) triple on an adversarial corpus —
  * multi-space runs (empty words), leading/trailing spaces, multi-byte
  * UTF-8, count ties (lexicographic winner), single-word and gram-less
  * docs. The production paths (q125/q130/q138) ride the expression;
  * the other two forms exist to keep this equivalence executable. */
class RepetitionKernelSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    1L -> "the cat sat on the mat the cat sat again",
    2L -> "a a a a a a",
    3L -> "word",                       // 1 word: no bigram
    4L -> " leading and trailing ",     // empty words at both ends
    5L -> "double  space  runs  here",  // empty words inside
    6L -> "x y x y z z z z x y",
    7L -> "héllo wörld héllo wörld héllo wörld", // multi-byte UTF-8
    8L -> "b a b a a b a b",            // tie territory
    9L -> "",                           // empty text: 1 empty word
    10L -> "ñ ñ ñ 漢字 漢字 ü ü ñ ñ")

  private def docs: DataFrame = corpus.toDF("doc_id", "text")

  /** the pre-r18 explode → count → window champion, verbatim */
  private def explodeForm(df: DataFrame, n: Int): DataFrame = {
    val ws = split(col("text"), " ")
    val grams = when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    val counted = df.select(col("doc_id"), explode(grams).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("gram").asc)
    counted.withColumn("__rk", row_number().over(byDoc))
      .groupBy(col("doc_id"))
      .agg(max(when(col("__rk") === 1, col("gram"))).as("top_gram"),
        max(when(col("__rk") === 1, col("cnt"))).as("top_cnt"),
        sum(when(col("cnt") >= 2, col("cnt") * length(col("gram")))
          .otherwise(0L)).as("dup_chars"))
  }

  private def viaExpr(df: DataFrame, n: Int) = df
    .select(col("doc_id"),
      graft.expr.WordGramRunStatsExpr.column(col("text"), n).as("st"))
    .filter(col("st").isNotNull)
    .select(col("doc_id"), col("st.top_gram"), col("st.top_cnt"), col("st.dup_chars"))
    .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq

  private def viaFold(df: DataFrame, n: Int) = {
    val ws = split(col("text"), " ")
    val grams = when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    df.select(col("doc_id"), TextReference.gramRunStats(grams).as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"), col("st.top_gram"), col("st.top_cnt"), col("st.dup_chars"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
  }

  private def viaExplode(df: DataFrame, n: Int) =
    explodeForm(df, n)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq

  test("expression ≡ HOF fold ≡ explode form on the adversarial corpus (bigrams)") {
    val e = viaExpr(docs, 2); val f = viaFold(docs, 2); val x = viaExplode(docs, 2)
    assert(e.nonEmpty && e == f, s"expr=$e fold=$f")
    assert(e == x, s"expr=$e explode=$x")
  }

  test("expression ≡ HOF fold ≡ explode form for trigrams and unigrams") {
    for (n <- Seq(1, 3)) {
      val e = viaExpr(docs, n); val f = viaFold(docs, n); val x = viaExplode(docs, n)
      assert(e == f, s"n=$n expr=$e fold=$f")
      assert(e == x, s"n=$n expr=$e explode=$x")
    }
  }

  test("null struct exactly when the doc has fewer than n words") {
    val st = docs.select(col("doc_id"),
      graft.expr.WordGramRunStatsExpr.column(col("text"), 2).as("st"),
      (size(split(col("text"), " ")) < 2).as("short"))
      .as[(Long, Option[(String, Long, Long)], Boolean)].collect()
    st.foreach { case (id, s, short) =>
      assert(s.isEmpty == short, s"doc $id: struct=$s short=$short") }
    // null text → null struct (nullSafeEval)
    val nt = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(graft.expr.WordGramRunStatsExpr.column(col("text"), 1))
      .collect().head
    assert(nt.isNullAt(0))
  }

  test("count ties keep the lexicographically smallest gram") {
    // "b a" x3 and "a b" x3 in doc 8 — champion must be "a b"
    val row = viaExpr(docs.filter(col("doc_id") === 8), 2).head
    assert(row._2 == "a b" && row._3 == 3L, row.toString)
  }
}
