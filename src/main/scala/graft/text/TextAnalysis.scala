package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Funcs.safeDiv

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, document statistics, quality scoring, language ID and
  * fingerprinting. All pure column expressions (codegen'd higher-order
  * functions — no UDFs), so they stream through whole-stage codegen at
  * 100 TB: one narrow pass per document, no shuffle.
  */
object TextAnalysis {

  /** Whitespace tokenization. `split` keeps no trailing empty token for
    * the \s+ pattern when input is trimmed first. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Unicode NFC normalization via the native codegen'd expression
    * (`expr/NfcNormalizeExpr`; SQL surface `graft_nfc`). */
  def nfc(text: Column): Column = org.apache.spark.sql.GraftBridge.column(
    graft.expr.NfcNormalizeExpr(
      org.apache.spark.sql.GraftBridge.expression(text)))

  /** Corpus text cleaner (the ftfy-lite every ingest runs before dedup
    * and fingerprinting): NFC-normalize → strip C0/C1 control
    * characters (newline/tab become plain spaces via the collapse) →
    * collapse whitespace runs to single spaces → trim. Pure per-row
    * projection, no shuffle; byte-parity with a SQL engine's
    * nfc_normalize + regexp chain (q211). */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfc(text), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]", ""),
      "\\s+", " "))

  /** BPE-ish token-count proxy: words plus punctuation runs counted as
    * separate tokens (a cheap stand-in for a subword tokenizer's token
    * count; exact BPE requires the merges table). */
  def tokenCountApprox(text: Column): Column =
    size(tokens(text)) + size(filter(split(text, ""), c => c.rlike("[\\p{Punct}]")))

  /** Per-document statistics block. */
  def textStats(text: Column): Seq[(String, Column)] = {
    val ws = tokens(text)
    Seq(
      "n_chars" -> length(text).cast("long"),
      "n_words" -> size(ws).cast("long"),
      "n_unique_words" -> size(array_distinct(ws)).cast("long"),
      "avg_word_len" -> avgWordLen(ws),
      "punct_ratio" -> safeDiv(
        (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double"),
        length(text).cast("double")),
      "digit_ratio" -> safeDiv(
        (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double"),
        length(text).cast("double")))
  }

  private def avgWordLen(ws: Column): Column =
    safeDiv(
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double"),
      size(ws).cast("double"))

  /** Quality score in [0,1]: combines length sanity, lexical diversity
    * and punctuation balance — the heuristic family used for pretraining
    * corpus filtering. Weights are arbitrary but fixed. */
  def qualityScore(text: Column): Column = {
    val ws = tokens(text)
    val nWords = size(ws).cast("double")
    val lenScore = least(nWords / lit(20.0), lit(1.0)) // saturates at 20 words
    val diversity = safeDiv(size(array_distinct(ws)).cast("double"), nWords)
    val punct = safeDiv(
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double"),
      length(text).cast("double"))
    val punctScore = lit(1.0) - least(punct * 5.0, lit(1.0))
    lit(0.4) * lenScore + lit(0.4) * diversity + lit(0.2) * punctScore
  }

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. Small fixed lists — broadcast as literals into codegen. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "por", "que", "una", "con"))

  /** Count of tokens that appear in a marker list. */
  def markerHits(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(markers)))

  /** Language ID: CJK-character detection short-circuits to zh; else the
    * language with the most marker-word hits wins (ties break by
    * alphabetical language code); no hits → "unknown". */
  def languageId(text: Column): Column = {
    val ws = tokens(lower(text))
    val scored = LangMarkers.toSeq.sortBy(_._1)
      .map { case (lang, m) => (lang, markerHits(ws, m)) }
    // argmax as a when-ladder: first (alphabetical) language reaching the max wins
    val maxScore = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.foldRight(lit("unknown")) { case ((lang, sc), acc) =>
      when(sc === maxScore && sc > 0, lit(lang)).otherwise(acc)
    }
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh")).otherwise(pick)
  }

  /** Scrubbing / extraction for training-data pipelines: replace every
    * match of `pattern` (PII shapes — digit runs, emails, ids) with
    * `mask`. Pure codegen'd regexp — a narrow map pass at any scale. */
  def redact(c: Column, pattern: String, mask: String = "#"): Column =
    regexp_replace(c, pattern, mask)

  /** First capture group of `pattern` as a long (null when absent) —
    * the structured-field-out-of-text primitive (log/JSON-ish props
    * mining without a parser dependency). */
  def extractLong(c: Column, pattern: String): Column =
    regexp_extract(c, pattern, 1).cast("long")

  /** Document fingerprint: minimum 64-bit hash over character 8-gram
    * shingles (winnowing-lite). Equal fingerprints → near-identical
    * prefixes; used as a cheap near-dup blocking key. Hash values are
    * engine-specific (xxhash64) — a blocking key, not a portable id. */
  def fingerprint(text: Column, shingle: Int = 8): Column = {
    val n = length(text) - (shingle - 1)
    val grams = transform(sequence(lit(1), greatest(n, lit(1))),
      i => xxhash64(text.substr(i, lit(shingle))))
    array_min(grams)
  }

  /** TRUE winnowing (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * fingerprinting scheme): slide a window of `w` consecutive
    * character-`k`-gram hashes and select the RIGHTMOST minimal hash of
    * each window, then dedupe — guaranteeing every substring match of
    * length ≥ k + w − 1 shares a selected fingerprint, with density
    * ~2/(w+1). Unlike [[fingerprint]] (one global min, a blocking key)
    * this yields a position-bearing fingerprint SET usable for span-
    * level overlap detection and plagiarism-style matching.
    *
    * Hashes are the portable polynomial (PortableHash.MPoly), and the
    * rightmost-min is computed arithmetically
    * (`j + w − position(reverse(window), min(window))`) from codegen'd
    * array builtins — the identical formula an oracle replays with
    * DuckDB list functions (q290). Scale shape: pure per-row array
    * work, no shuffle except the final distinct; O(len·k) hashing +
    * O(len·w) selection per doc.
    *
    * Output: one row per distinct (id, pos, fp) — `pos` is the 1-based
    * shingle start of the selected gram. Docs shorter than `k` emit
    * nothing.
    *
    * Backed by the codegen'd graft.expr.WinnowExpr (rolling Karp–Rabin
    * hashes + monotonic-deque window minima, O(len) per doc); the HOF
    * form `TextReference.winnowHof` in the test tree is the readable
    * reference it is pinned against and the shape of the q290 DuckDB
    * oracle. The expression
    * emits each document's distinct selection set directly, so no
    * global `.distinct()` shuffle is needed. */
  def winnow(df: DataFrame, idCol: Column, textCol: Column,
             k: Int = 8, w: Int = 4): DataFrame =
    df.select(idCol.as("id"),
        graft.expr.WinnowExpr.column(textCol, k, w).as("__sel"))
      .select(col("id"), explode(col("__sel")).as("__s"))
      .select(col("id"), col("__s.pos").as("pos"), col("__s.fp").as("fp"))

  /** MOSS-style span-overlap candidate pairs from [[winnow]]
    * fingerprints: docs sharing ≥ `minShared` distinct selected
    * fingerprints. Ubiquitous fingerprints (document frequency >
    * `maxDf` — boilerplate, license headers) are dropped BEFORE the
    * pair join, so the join fan-out per fingerprint is ≤ maxDf²/2 and
    * the candidate set stays bounded at any corpus size — the same
    * blocking discipline as the MinHash band join (never all-pairs).
    * Output: (id_a < id_b, n_shared). */
  def winnowOverlapPairs(df: DataFrame, idCol: Column, textCol: Column,
                         k: Int = 8, w: Int = 4, minShared: Int = 2,
                         maxDf: Int = 10): DataFrame = {
    val fps = winnow(df, idCol, textCol, k, w)
      .select(col("id"), col("fp")).distinct()
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val pruned = fps.join(rare, "fp")
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
