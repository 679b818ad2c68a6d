package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Funcs

/** Repetition signals for pretraining-corpus quality filtering — the
  * word-n-gram family of the Gopher/MassiveText filter rules ("fraction
  * of characters in the most frequent n-gram" and "fraction of
  * characters in duplicated n-grams"). Documents dominated by a few
  * repeated phrases (templated spam, keyword stuffing, scraped
  * boilerplate) score high and get filtered before training.
  *
  * The reference engine has no text layer; this extends its
  * quality-report idiom (reference: src/utils/data_loader.py:206-246 —
  * per-column diagnostic frames) to per-document text diagnostics.
  *
  * Scale shape (100 TB): explode to (doc, gram) then ONE partial-agg
  * groupBy on (doc, gram) — map-side combine collapses within-partition
  * repeats, so the shuffle carries at most the per-partition DISTINCT
  * grams. The per-document ranking window and final rollup ride the
  * same hash partitioning prefix (doc id). Nothing is ever collected;
  * memory per task is O(distinct grams per document).
  */
object Repetition {

  /** Explode to 1-based word n-grams: one row per (id, gram) occurrence.
    * Documents shorter than `n` words produce no rows. */
  def ngrams(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val ws = split(col(text), " ")
    val grams = when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    df.select(col(id), length(col(text)).cast("long").as("n_chars"),
      explode(grams).as("gram"))
  }

  /** SQL type of the per-document gram-run statistics struct
    * (`top_gram`, `top_cnt`, `dup_chars`) that
    * [[graft.expr.WordGramRunStatsExpr]] computes; the sorted-run fold
    * kept in the test tree (`TextReference.gramRunStats`) casts its
    * empty-array NULL to it. */
  private[graft] val GramStatsType = "struct<top_gram:string,top_cnt:bigint,dup_chars:bigint>"

  /** Per-document repetition metrics over word `n`-grams:
    *   - `top_gram` / `top_cnt`: the most frequent n-gram (count-desc,
    *     gram-asc tiebreak) and its occurrence count;
    *   - `top_gram_char_frac`: chars covered by the top n-gram's
    *     occurrences over total document chars;
    *   - `dup_gram_char_frac`: chars covered by ALL n-grams occurring
    *     ≥ 2 times, clipped at 1.0 (n-grams overlap for n > 1, so the
    *     raw sum can exceed the document length — the clip keeps the
    *     score a fraction; Gopher's exact overlap accounting needs
    *     positional merging that buys little for filtering).
    * Fractions are rounded via [[Funcs.r]] for oracle-stable output.
    *
    * r18 execution shape: one narrow projection via
    * [[graft.expr.WordGramRunStatsExpr]] — no explode, no exchange, no
    * window (the pre-r18 form shuffled and sorted the exploded
    * (doc, gram) corpus), and no gram-array materialization either:
    * because `concat_ws(" ", ...)` re-joins with the same separator
    * `split` consumed, every n-gram is a contiguous byte span of the
    * original text, so the expression works on zero-copy UTF8String
    * slices (the array-building `transform`+`slice`+`concat_ws` was
    * 2.1 s of q130's 2.5 s at sf0.1 — CurateProbe r18). Value-identical
    * by the run-fold argument (the expression's scaladoc); the HOF
    * sorted-run fold `TextReference.gramRunStats` in the test tree is
    * its reference (RepetitionKernelSpec pins all three forms against
    * each other). Docs shorter than `n` words still
    * produce no row (the explode-form dropped their empty arrays; here
    * an explicit word-count filter does). */
  def ngramRepetition(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val chars = col("n_chars").cast("double")
    df.filter(size(split(col(text), " ")) >= n)
      .select(col(id), length(col(text)).cast("long").as("n_chars"),
        graft.expr.WordGramRunStatsExpr.column(col(text), n).as("__st"))
      .select(col(id),
        col("__st").getField("top_gram").as("top_gram"),
        col("__st").getField("top_cnt").as("top_cnt"),
        Funcs.r(col("__st").getField("top_cnt") *
          length(col("__st").getField("top_gram")) / chars).as("top_gram_char_frac"),
        Funcs.r(least(lit(1.0),
          col("__st").getField("dup_chars") / chars)).as("dup_gram_char_frac"))
  }
}
