package graft

import org.apache.spark.sql.functions._
import graft.text.{FuzzyVerify, QualityFilter, Vocab}
import graft.operators.AggFeatures

class TextOpsSpec extends SparkSpec {

  test("winnowing guarantees a shared fingerprint for substring matches >= k+w-1") {
    import spark.implicits._
    // docs 1 and 2 share an 11-char substring (= k + w - 1 with k=8, w=4)
    val shared = "THESHAREDRUN"
    val docs = Seq((1L, s"aaaaaa${shared}bbbbbb"), (2L, s"zzz${shared}qqqqqqq"),
      (3L, "completely different text here")).toDF("doc_id", "text")
    val fp = graft.text.TextAnalysis.winnow(docs, col("doc_id"), col("text"))
      .select("id", "fp").as[(Long, Long)].collect()
    val byDoc = fp.groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run must share a fingerprint")
  }

  test("winnow pairs surface the overlapping pair and drop boilerplate fps") {
    import spark.implicits._
    val shared = "A_LONG_SHARED_SPAN_OF_TEXT_HERE"
    val docs = (Seq((1L, s"xxxxxx${shared}yyyy"), (2L, s"qq${shared}ppppp")) ++
      // 20 docs sharing the SAME boilerplate run: df(fp) > maxDf -> pruned
      (10L until 30L).map(i => (i, s"BOILERPLATE_HEADER_COMMON v$i")))
      .toDF("doc_id", "text")
    val pairs = graft.text.TextAnalysis
      .winnowOverlapPairs(docs, col("doc_id"), col("text"), maxDf = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 >= 10L && p._2 >= 10L),
      "boilerplate-only docs must not pair up past the df cap")
  }

  test("winnowing density and determinism; short docs emit nothing") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 100), (2L, "short")).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.winnow(docs, col("doc_id"), col("text"))
      .select("id", "pos", "fp").as[(Long, Long, Long)].collect()
    assert(!out.exists(_._1 == 2L)) // len 5 < k=8
    // constant text -> every 8-gram hash equal -> rightmost-min walks the
    // windows; selection still dedupes to far fewer than one per window
    val n1 = out.count(_._1 == 1L)
    assert(n1 >= 1 && n1 <= 93)
    val again = graft.text.TextAnalysis.winnow(docs, col("doc_id"), col("text"))
      .select("id", "pos", "fp").as[(Long, Long, Long)].collect()
    assert(out.sortBy(t => (t._1, t._2)).sameElements(again.sortBy(t => (t._1, t._2))))
  }

  test("winnow: codegen'd expression matches the HOF reference on real corpus text") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200).select("doc_id", "text")
      // exercise short-doc, multibyte and tie-heavy inputs too
      .union(Seq((9001L, "short"), (9002L, "x" * 60),
        (9003L, "héllo wörld — unïcode façade répété héllo wörld"),
        (9004L, "")).toDF("doc_id", "text"))
    val fast = graft.text.TextAnalysis.winnow(docs, col("doc_id"), col("text"))
      .select("id", "pos", "fp").as[(Long, Long, Long)].collect().sorted.toSeq
    val ref = TextReference.winnowHof(docs, col("doc_id"), col("text"))
      .select("id", "pos", "fp").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(fast == ref)
  }

  test("cleanText: NFC-composes, strips controls, collapses whitespace") {
    import spark.implicits._
    val docs = Seq(
      (1L, "e\u0301clair"),              // decomposed e+combining acute -> composed
      (2L, "a\u0001\u009Fbc"),            // C0/C1 controls stripped
      (3L, "  a \t b\n\nc  "),           // whitespace runs -> single spaces
      (4L, "plain ascii")).toDF("id", "t")
    val out = docs.select(col("id"),
      graft.text.TextAnalysis.cleanText(col("t")).as("c"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out(0)._2 == "\u00E9clair", out(0)._2.codePoints().toArray.toSeq.toString)
    assert(out(1)._2 == "abc")
    assert(out(2)._2 == "a b c")
    assert(out(3)._2 == "plain ascii")
  }

  test("graft_nfc registers on the SQL surface and matches java.text.Normalizer") {
    graft.GraftFunctions.register(spark)
    val got = spark.sql("SELECT graft_nfc('é') AS s").head().getString(0)
    assert(got == java.text.Normalizer.normalize("é",
      java.text.Normalizer.Form.NFC))
    assert(got == "é")
  }
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // 1 edit-word from 1
    (3L, "zz xx yy ww vv uu tt ss rr qq")
  ).toDF("doc_id", "text")

  test("vocab topTokens: counts, zipf rank and cumulative coverage") {
    val top = Vocab.topTokens(docs, "text", 3)
      .as[(String, Long, Long, Double)].collect()
    // 28 tokens total; "the" appears 4x, then 2x-words (brown < fox < ...)
    assert(top(0) == (("the", 4L, 1L, 0.1429)))
    assert(top(1)._1 == "brown" && top(1)._2 == 2L && top(1)._3 == 2L)
    assert(top(2)._4 > top(1)._4) // coverage is cumulative
  }

  test("fuzzy verify keeps the near-identical pair and rejects unrelated") {
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = FuzzyVerify.editDistanceVerify(docs, cand, "doc_id", "text", maxRatio = 0.3)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 1)
    assert(out.head._1 == 1L && out.head._2 == 2L)
    assert(out.head._3 == 3L) // dog -> cat: 3 substitutions
  }

  test("gopher filter: word-count and repetition rules decide keep") {
    val mixed = Seq(
      (1L, "one two three four five six seven eight nine ten eleven"), // clean, 11 words
      (2L, "spam spam spam spam spam spam spam spam spam spam"), // repetition
      (3L, "too short") // below min words
    ).toDF("doc_id", "text")
    val out = QualityFilter.gopherFilter(mixed, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "ok_words", "ok_top2", "ok_dup2", "keep")
      .as[(Long, Int, Int, Int, Int)].collect()
    assert(out(0) == ((1L, 1, 1, 1, 1)))
    assert(out(1)._3 == 0 || out(1)._4 == 0) // repetition rule fires
    assert(out(1)._5 == 0)
    assert(out(2)._2 == 0 && out(2)._5 == 0) // too short
  }

  test("gopher filter fusion is bit-identical to the unfused stats+join composition") {
    import graft.functions.Funcs.safeDiv
    // corners: empty text, one word (no bigrams), heavy repetition,
    // digit noise, a clean doc — plus the real sf0.001 corpus below
    val corners = Seq(
      (1L, ""), (2L, "word"), (3L, "a b a b a b a b a b a b"),
      (4L, "1 2 3 4 5 6 7 8 9 10 11 12"),
      (5L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    // the pre-r17 unfused composition, verbatim
    def unfused(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val ws = graft.text.TextAnalysis.tokens(col("text"))
      val nWords = size(ws)
      val avgLen = safeDiv(
        aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double"),
        nWords.cast("double"))
      val digitRatio = safeDiv(
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double"),
        length(col("text")).cast("double"))
      val rep = graft.text.Repetition.ngramRepetition(df, "doc_id", "text", 2)
        .select(col("doc_id"), col("top_gram_char_frac"), col("dup_gram_char_frac"))
      df.select(col("doc_id"), col("text"))
        .withColumn("ok_words", (nWords >= 10 && nWords <= 1000).cast("int"))
        .withColumn("ok_word_len", (avgLen >= 2.0 && avgLen <= 12.0).cast("int"))
        .withColumn("ok_digit", (digitRatio < 0.2).cast("int"))
        .join(rep, Seq("doc_id"), "left")
        .withColumn("ok_top2",
          (coalesce(col("top_gram_char_frac"), lit(0.0)) < 0.2).cast("int"))
        .withColumn("ok_dup2",
          (coalesce(col("dup_gram_char_frac"), lit(0.0)) < 0.4).cast("int"))
        .withColumn("keep",
          (col("ok_words") === 1 && col("ok_word_len") === 1 && col("ok_digit") === 1 &&
            col("ok_top2") === 1 && col("ok_dup2") === 1).cast("int"))
        .select(col("doc_id"), col("ok_words"), col("ok_word_len"), col("ok_digit"),
          col("ok_top2"), col("ok_dup2"), col("keep"))
    }
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (corpus <- Seq(corners, real)) {
      val got = QualityFilter.gopherFilter(corpus, "doc_id", "text")
        .orderBy("doc_id").collect()
      val want = unfused(corpus).orderBy("doc_id").collect()
      assert(got.toSeq == want.toSeq)
    }
  }

  test("bm25: term-dense short doc outranks sparse long doc; k respected") {
    val corpus = Seq(
      (1L, "spark spark shuffle"), // 2 hits of one query term, short
      (2L, "spark mentioned once in a much longer document about other things entirely"),
      (3L, "nothing relevant here at all"),
      (4L, "shuffle talk but also spark and spark again and shuffle")
    ).toDF("doc_id", "text")
    val hits = graft.text.Bm25.search(corpus, "doc_id", "text",
      Seq("spark", "shuffle"), k = 2)
      .select("doc_id", "n_terms_matched", "score")
      .as[(Long, Long, Double)].collect()
    assert(hits.length == 2)
    assert(hits.map(_._1).toSet == Set(1L, 4L)) // both-term docs win
    assert(!hits.map(_._1).contains(3L))
    assert(hits.forall(_._3 > 0.0))
  }

  test("sketch profile estimates stay within 5% of exact on real data") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val sk = AggFeatures.sketchProfile(li, Seq(col("l_returnflag")), col("l_quantity"))
      .select("l_returnflag", "approx_distinct", "approx_median")
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_quantity")).as("d"),
        percentile(col("l_quantity"), lit(0.5)).as("m"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    exact.foreach { case (k, (d, m)) =>
      val (ad, am) = sk(k)
      assert(math.abs(ad - d).toDouble / d <= 0.05, s"$k distinct: approx=$ad exact=$d")
      assert(math.abs(am - m) / math.max(m, 1.0) <= 0.05, s"$k median: approx=$am exact=$m")
    }
  }
}
