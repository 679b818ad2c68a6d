package graft

import org.apache.spark.sql.functions._
import graft.text.{Repetition, SpanDedup}
import graft.operators.HarmonicRegression

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  // doc 1 and 2 share their first 4-word span exactly; doc 3 is unique;
  // doc 4 repeats its own first span internally.
  private val docs = Seq(
    (1L, "a b c d e f g"),
    (2L, "a b c d x y z"),
    (3L, "p q r s t"),
    (4L, "m n o p m n o p")
  ).toDF("doc_id", "text")

  test("spans: non-overlapping w-word numbering, short tail span kept") {
    val sp = SpanDedup.spans(docs.filter(col("doc_id") === 1L), "doc_id", "text", 4)
      .orderBy("span_no").as[(Long, Long, String)].collect()
    assert(sp.toSeq == Seq((1L, 1L, "a b c d"), (1L, 2L, "e f g")))
  }

  test("spans: zero-copy expression ≡ split/slice/concat_ws array form " +
    "on an adversarial corpus (r18 kernel swap)") {
    // multi-space runs (empty words), leading/trailing spaces, multi-byte
    // UTF-8, empty doc, single word, NULL text, width-1 and width-3 spans
    val adv = Seq(
      (1L, Some("a  b   c d")),            // empty words between spaces
      (2L, Some(" leading and trailing ")),
      (3L, Some("héllo wörld ünïcode 漢字 テスト")),
      (4L, Some("")),
      (5L, Some("single")),
      (6L, None),
      (7L, Some("exactly three words here now six")),
      (8L, Some("　full-width　space U+3000 is not a separator"))
    ).map { case (i, t) => (i, t.orNull) }.toDF("doc_id", "text")
    for (w <- Seq(1, 3, 4)) {
      val a = SpanDedup.spans(adv, "doc_id", "text", w)
        .orderBy("doc_id", "span_no").collect().map(_.toSeq).toSeq
      val b = TextReference.spansArrayForm(adv, "doc_id", "text", w)
        .orderBy("doc_id", "span_no").collect().map(_.toSeq).toSeq
      assert(a == b, s"w=$w")
      assert(SpanDedup.spans(adv, "doc_id", "text", w).schema ==
        TextReference.spansArrayForm(adv, "doc_id", "text", w).schema)
    }
  }

  test("dedupSpans: first global occurrence wins; later copies dropped") {
    val out = SpanDedup.dedupSpans(docs, "doc_id", "text", 4)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "n_kept", "text_dedup")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 2L, 2L, "a b c d e f g"))) // doc 1 keeps everything
    assert(out(1) == ((2L, 2L, 1L, "x y z"))) // "a b c d" already seen in doc 1
    assert(out(2) == ((3L, 2L, 2L, "p q r s t")))
    assert(out(3) == ((4L, 2L, 1L, "m n o p"))) // self-repeat collapses
  }

  test("dedupSpans: hot span (shared boilerplate) collapses to one global winner") {
    val boiler = "subscribe to our newsletter now"
    val hot = (1L to 500L).map(i => (i, s"$boiler unique tail $i")).toDF("doc_id", "text")
    val out = SpanDedup.dedupSpans(hot, "doc_id", "text", 5)
    // span 1 = the 5 boilerplate words for every doc → only doc 1 keeps it
    val keepers = out.filter(col("text_dedup").startsWith(boiler))
    assert(keepers.count() == 1L)
    assert(keepers.select("doc_id").as[Long].head() == 1L)
    // every doc keeps its unique tail span
    assert(out.filter(col("n_kept") >= 1).count() == 500L)
  }

  test("ngrams: bigram explosion with 1-based overlap") {
    val g = Repetition.ngrams(docs.filter(col("doc_id") === 3L), "doc_id", "text", 2)
      .select("gram").as[String].collect().toSeq
    assert(g == Seq("p q", "q r", "r s", "s t"))
  }

  test("ngramRepetition: top gram, count and char fractions") {
    // "m n o p m n o p": bigrams m n, n o, o p, p m, m n, n o, o p → top
    // is "m n" (alphabetical tiebreak among count-2 grams m n / n o / o p)
    val rep = Repetition.ngramRepetition(
      docs.filter(col("doc_id") === 4L), "doc_id", "text", 2)
      .select("top_gram", "top_cnt", "top_gram_char_frac", "dup_gram_char_frac")
      .as[(String, Long, Double, Double)].head()
    assert(rep._1 == "m n" && rep._2 == 2L)
    // text is 15 chars; top covers 2*3=6 chars → 0.4
    assert(math.abs(rep._3 - 0.4) < 1e-9)
    // dup grams: three grams × 2 occurrences × 3 chars = 18 → clipped? 18/15 > 1 → 1.0
    assert(rep._4 == 1.0)
  }

  test("ngramRepetition: doc shorter than n yields no row") {
    val one = Seq((9L, "single")).toDF("doc_id", "text")
    assert(Repetition.ngramRepetition(one, "doc_id", "text", 2).count() == 0L)
  }

  test("harmonic fit recovers planted coefficients exactly on clean signal") {
    val period = 52.0
    val rows = (0 until 104).map { t =>
      val y = 10.0 + 3.0 * math.sin(2 * math.Pi * t / period) -
        2.0 * math.cos(2 * math.Pi * t / period)
      (t % 2, t.toDouble, y) // two interleaved series, same law
    }
    val df = rows.toDF("k", "t", "y")
    val fit = HarmonicRegression.fit(df, Seq("k"), col("t"), col("y"), period)
      .orderBy("k").select("n_obs", "b0", "b1", "b2", "amplitude")
      .as[(Long, Double, Double, Double, Double)].collect()
    fit.foreach { case (n, b0, b1, b2, amp) =>
      assert(n == 52L)
      assert(math.abs(b0 - 10.0) < 1e-3, s"b0=$b0")
      assert(math.abs(b1 - 3.0) < 1e-3, s"b1=$b1")
      assert(math.abs(b2 + 2.0) < 1e-3, s"b2=$b2")
      assert(math.abs(amp - math.sqrt(13.0)) < 1e-3)
    }
  }

  test("harmonic fit: singular design (constant t) yields NULL coefficients") {
    val df = Seq((1, 5.0, 1.0), (1, 5.0, 2.0), (1, 5.0, 3.0)).toDF("k", "t", "y")
    val fit = HarmonicRegression.fit(df, Seq("k"), col("t"), col("y"), 52.0)
    assert(fit.filter(col("b0").isNull && col("b1").isNull && col("b2").isNull).count() == 1L)
  }

  test("harmonic predict reproduces the in-sample signal") {
    val period = 52.0
    val rows = (0 until 52).map { t =>
      (1, t.toDouble, 5.0 + 2.0 * math.sin(2 * math.Pi * t / period))
    }
    val df = rows.toDF("k", "t", "y")
    val fit = HarmonicRegression.fit(df, Seq("k"), col("t"), col("y"), period)
    val mae = HarmonicRegression.predict(df, fit, Seq("k"), col("t"), period)
      .select(avg(abs(col("yhat") - col("y")))).as[Double].head()
    assert(mae < 1e-2, s"mae=$mae")
  }
}
