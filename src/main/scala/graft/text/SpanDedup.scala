package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span-level (exact-substring-style) corpus deduplication: split every
  * document into non-overlapping `w`-word spans, keep only the FIRST
  * global occurrence of each span (ordered by document id, then span
  * position), and reconstruct documents from their surviving spans.
  *
  * This is the chunk-granularity variant of suffix-array exact-substring
  * dedup ("Deduplicating Training Data Makes Language Models Better",
  * Lee et al. 2022): boilerplate and copied passages shared across
  * documents are removed corpus-wide while each document keeps one copy.
  * The reference engine's dedup layer is row-level keep-first
  * (reference: src/utils/data_loader.py:300-330); this extends the same
  * keep-first discipline below document grain, which is what an LLM
  * training-data pipeline needs.
  *
  * Scale shape (100 TB): exploding to spans multiplies row COUNT but not
  * corpus bytes (each word lands in exactly one span). The keep decision
  * is a PARTIAL-AGGREGATED min-struct per span — deliberately not a
  * row_number window: dedup corpora guarantee hot spans (boilerplate
  * repeated across millions of documents), and a window would route
  * every copy of a hot span to one task, while map-side combine
  * collapses them to one row per input partition before the shuffle.
  * The winner table joins back co-partitioned on the span, and
  * reassembly is one document-id shuffle with a per-document (bounded)
  * collect_list. No all-pairs step exists anywhere; memory per task is
  * O(longest document), not O(hottest span).
  */
object SpanDedup {

  /** Explode documents into 1-based numbered `w`-word spans.
    * The last span of a document may be shorter than `w`.
    *
    * r18 kernel: the chunks come from [[graft.expr.WordSpanChunksExpr]]
    * — zero-copy byte spans instead of the split/slice/concat_ws array
    * build, value-identical by the single-space contiguity argument
    * (the expression's scaladoc carries the full equivalence proof);
    * SpanDedupSpec pins it to that array form,
    * `TextReference.spansArrayForm` in the test tree.
    * `coalesce(text, "")` preserves the array form's NULL-text
    * behavior (one empty span, span_no 1 — the `concat_ws` of a NULL
    * slice). */
  def spans(df: DataFrame, id: String, text: String, w: Int): DataFrame =
    df.select(col(id), explode(graft.expr.WordSpanChunksExpr.column(
        coalesce(col(text), lit("")), w)).as("__s"))
      .select(col(id), col("__s.span_no").as("span_no"), col("__s.span").as("span"))

  /** Corpus-wide keep-first span dedup. Returns one row per document:
    * span counts before/after plus the reconstructed text (surviving
    * spans re-joined in original order with single spaces).
    *
    * Determinism: the global winner of a span is the minimal
    * (`id`, `span_no`) pair, so output is stable across runs and
    * engines. Duplicate spans WITHIN one document also collapse to
    * their first occurrence — intended (self-repetition is noise too).
    */
  def dedupSpans(df: DataFrame, id: String, text: String, w: Int = 10): DataFrame = {
    val sp = spans(df, id, text, w)
    // skew-safe keep decision: min (id, span_no) per span via partial
    // aggregation (hot spans collapse map-side), joined back
    // co-partitioned on the span
    val winners = sp.groupBy(col("span"))
      .agg(min(struct(col(id), col("span_no"))).as("__w"))
      .select(col("span"), col("__w").getField(id).as("__wid"),
        col("__w").getField("span_no").as("__wno"))
    sp.join(winners, Seq("span"))
      .withColumn("__keep", col(id) === col("__wid") && col("span_no") === col("__wno"))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("span_no"), col("span"))))),
          s => s.getField("span"))).as("text_dedup"))
  }
}
