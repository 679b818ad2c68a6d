package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.Repetition

/** Parity reference for the text kernels: the Column/HOF forms that the
  * codegen'd expressions of `graft.text` replaced, kept verbatim. Each
  * spec named below pins a production kernel to its form here. */
object TextReference {

  /** The Column/HOF formulation of `TextAnalysis.winnow` — the
    * reference the codegen'd [[graft.expr.WinnowExpr]] is pinned against
    * (TextOpsSpec parity) and the formula the q290 DuckDB oracle
    * replays. O(len²) exploded-row traffic per doc. */
  def winnowHof(df: DataFrame, idCol: Column, textCol: Column,
                k: Int = 8, w: Int = 4): DataFrame = {
    val m = (length(textCol) - (k - 1)).cast("int")
    val base = df.select(idCol.as("id"), textCol.as("__t"), m.as("__m"))
      .filter(col("__m") >= 1)
    val hashes = transform(sequence(lit(1), col("__m")),
      i => graft.functions.PortableHash.polyHash(col("__t").substr(i, lit(k))))
    val wEff = least(lit(w), col("__m"))
    val sel = base
      .withColumn("__h", hashes)
      .withColumn("__we", wEff)
      .withColumn("__j", explode(sequence(lit(1), col("__m") - col("__we") + 1)))
      .withColumn("__win", slice(col("__h"), col("__j"), col("__we")))
      .withColumn("pos", (col("__j") + col("__we") -
        array_position(reverse(col("__win")), array_min(col("__win"))))
        .cast("long"))
    sel.select(col("id"), col("pos"),
        element_at(col("__h"), col("pos").cast("int")).as("fp"))
      .distinct()
  }

  /** Per-document gram-run statistics computed INSIDE one projection
    * (r18): sort the document's gram array so equal grams are adjacent,
    * then fold the runs in one pass. Emits
    * `struct(top_gram, top_cnt, dup_chars)` — the most frequent gram
    * under the (count DESC, gram ASC) order, its count, and the chars
    * covered by grams occurring ≥ 2 times — or NULL for an empty array.
    *
    * This replaces the explode → (doc, gram) hash-agg exchange →
    * per-doc ranking window (a full sort of the exploded corpus) with
    * per-row compute: ZERO shuffles, zero Generate, memory O(grams per
    * document) — the array the projection already holds. Equivalence:
    * run lengths over the sorted array ARE the per-gram counts; walking
    * ascending and replacing the champion only on a STRICTLY greater
    * count keeps the lexicographically smallest gram on count ties —
    * exactly `row_number() OVER (ORDER BY cnt DESC, gram ASC) = 1`
    * (sort_array and the window's gram ordering are both UTF8-binary).
    * The dup sum is order-independent.
    *
    * The production paths (`Repetition.ngramRepetition`,
    * `QualityFilter.gopherFilter`) use
    * [[graft.expr.WordGramRunStatsExpr]], which computes the same
    * struct from zero-copy byte spans without materializing the gram
    * array; RepetitionKernelSpec pins the two against each other and
    * against the original explode → aggregate → window form. */
  def gramRunStats(grams: Column): Column = {
    def champion(st: Column): (Column, Column) = (
      when(st.getField("run") > st.getField("best_cnt"), st.getField("prev"))
        .otherwise(st.getField("best_gram")),
      when(st.getField("run") > st.getField("best_cnt"), st.getField("run"))
        .otherwise(st.getField("best_cnt")))
    def dupAcc(st: Column): Column =
      st.getField("dup_chars") + when(st.getField("run") >= 2,
        st.getField("run") * length(st.getField("prev")).cast("long")).otherwise(lit(0L))
    aggregate(sort_array(grams),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(null).cast("string").as("best_gram"), lit(0L).as("best_cnt"),
        lit(0L).as("dup_chars")),
      (st, g) => when(st.getField("prev").isNull,
        struct(g.as("prev"), lit(1L).as("run"),
          lit(null).cast("string").as("best_gram"), lit(0L).as("best_cnt"),
          lit(0L).as("dup_chars")))
        .when(g === st.getField("prev"),
          struct(g.as("prev"), (st.getField("run") + 1L).as("run"),
            st.getField("best_gram").as("best_gram"),
            st.getField("best_cnt").as("best_cnt"),
            st.getField("dup_chars").as("dup_chars")))
        .otherwise {
          // run boundary: fold the finished run into champion + dup sum
          val (bg, bc) = champion(st)
          struct(g.as("prev"), lit(1L).as("run"), bg.as("best_gram"),
            bc.as("best_cnt"), dupAcc(st).as("dup_chars"))
        },
      st => when(st.getField("prev").isNull, lit(null).cast(Repetition.GramStatsType))
        .otherwise {
          val (bg, bc) = champion(st)
          struct(bg.as("top_gram"), bc.as("top_cnt"), dupAcc(st).as("dup_chars"))
        })
  }

  /** The split/slice/concat_ws array form of `SpanDedup.spans` that
    * [[graft.expr.WordSpanChunksExpr]] replaced (SpanDedupSpec parity). */
  def spansArrayForm(df: DataFrame, id: String, text: String,
                     w: Int): DataFrame = {
    val ws = split(col(text), " ")
    val nSpans = ceil(size(ws).cast("double") / w).cast("int")
    val chunks = transform(
      sequence(lit(1), greatest(nSpans, lit(1))),
      i => struct(i.cast("long").as("span_no"),
        concat_ws(" ", slice(ws, (i - 1) * w + 1, lit(w))).as("span")))
    df.select(col(id), explode(chunks).as("__s"))
      .select(col(id), col("__s.span_no").as("span_no"), col("__s.span").as("span"))
  }
}
