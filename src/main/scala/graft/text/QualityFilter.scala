package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Funcs.safeDiv

/** Gopher/MassiveText-style document quality filtering: a bundle of
  * per-document rule checks (length, word shape, digit noise, n-gram
  * repetition) and the combined keep/drop decision. This is the
  * pretraining-corpus filter stage; every rule is exposed individually
  * so filter composition and per-rule loss can be audited downstream
  * (the reference's quality-report idiom, src/utils/data_loader.py:206-246,
  * at document grain).
  *
  * Scale shape (r18): ONE narrow per-document projection — the stats
  * rules are per-row expressions and the repetition rules come from
  * [[graft.expr.WordGramRunStatsExpr]]'s zero-copy sorted-run walk
  * over the document's own bytes. No explode, no shuffle, no window:
  * the filter's cost is pure data-parallel CPU and its memory is
  * O(grams per document), so it scales with corpus bytes alone.
  */
object QualityFilter {

  /** Rule thresholds (fixed, documented). A document is kept when ALL
    * rules pass. Flags are ints (1 = pass) for cross-engine hashing.
    *
    * Single-projection form (r17 fused the stats pass into the
    * repetition rollup; r18 removed the rollup itself): stats flags
    * and the [[graft.expr.WordGramRunStatsExpr]] kernel are evaluated
    * in ONE projection over the text column, so the document is read
    * and tokenized once and nothing leaves the row. Docs shorter than
    * the gram width get a NULL stats struct (the r17 explode_outer
    * NULL row), keeping the fraction NULLs → coalesce(0.0) semantics
    * of the original left-join composition. All value expressions are
    * verbatim [[Repetition.ngramRepetition]] / stats shapes — output
    * is bit-identical (TextOpsSpec pins it; the q130 oracle replays
    * it end to end). Assumes `id` is unique per document (the
    * corpus contract).
    */
  def gopherFilter(df: DataFrame, id: String, text: String,
                   minWords: Int = 10, maxWords: Int = 1000,
                   minAvgWordLen: Double = 2.0, maxAvgWordLen: Double = 12.0,
                   maxDigitRatio: Double = 0.2,
                   maxTopGramFrac: Double = 0.2,
                   maxDupGramFrac: Double = 0.4): DataFrame = {
    import graft.functions.Funcs
    val ws = TextAnalysis.tokens(col(text))
    val nWords = size(ws)
    val avgLen = safeDiv(
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double"),
      nWords.cast("double"))
    val digitRatio = safeDiv(
      (length(col(text)) - length(regexp_replace(col(text), "[0-9]", ""))).cast("double"),
      length(col(text)).cast("double"))
    // r18 projection-only shape: the repetition signals come from the
    // per-row zero-copy gram kernel (WordGramRunStatsExpr — every word
    // bigram is a contiguous byte span of the text, so no gram array is
    // ever built) instead of the fused explode → (doc, gram) aggregate
    // → ranking window of r17 — the whole filter is now a narrow
    // per-document projection with ZERO exchanges (the r17 form
    // shuffled the exploded gram table once and sorted it once; at any
    // scale that was the dominant cost — CurateProbe measured the gram
    // stages at ~80% of q138, and the array-building HOF form kept
    // 2.1 s of that as transform+slice+concat_ws allocation).
    // The kernel is NULL for gram-less docs (the explode_outer NULL
    // row of the r17 form), so the fraction/flag null semantics below
    // are verbatim; RepetitionKernelSpec pins the expression against
    // the HOF fold (TextReference.gramRunStats in the test tree) and
    // the original explode form. Layered selects
    // keep the expensive stats struct evaluated once per row
    // (CollapseProject's non-cheap guard).
    val staged = df.select(col(id),
      (nWords >= minWords && nWords <= maxWords).cast("int").as("ok_words"),
      (avgLen >= minAvgWordLen && avgLen <= maxAvgWordLen).cast("int").as("ok_word_len"),
      (digitRatio < maxDigitRatio).cast("int").as("ok_digit"),
      length(col(text)).cast("long").as("__n_chars"),
      graft.expr.WordGramRunStatsExpr.column(col(text), 2).as("__st"))
    staged.select(col(id), col("ok_words"), col("ok_word_len"), col("ok_digit"),
        Funcs.r(col("__st").getField("top_cnt") *
          length(col("__st").getField("top_gram")) /
          col("__n_chars").cast("double")).as("top_gram_char_frac"),
        // NULL (not 0/0) for gram-less docs: the isNotNull guard
        // reproduces the r17 when-guard so coalesce(0.0) below matches
        Funcs.r(when(col("__st").isNotNull,
          least(lit(1.0), col("__st").getField("dup_chars") /
            col("__n_chars").cast("double")))).as("dup_gram_char_frac"))
      .withColumn("ok_top2",
        (coalesce(col("top_gram_char_frac"), lit(0.0)) < maxTopGramFrac).cast("int"))
      .withColumn("ok_dup2",
        (coalesce(col("dup_gram_char_frac"), lit(0.0)) < maxDupGramFrac).cast("int"))
      .withColumn("keep",
        (col("ok_words") === 1 && col("ok_word_len") === 1 && col("ok_digit") === 1 &&
          col("ok_top2") === 1 && col("ok_dup2") === 1).cast("int"))
      .select(col(id), col("ok_words"), col("ok_word_len"), col("ok_digit"),
        col("ok_top2"), col("ok_dup2"), col("keep"))
  }
}
