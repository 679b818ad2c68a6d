package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared scalar/column helpers used across the engine.
  *
  * These are all codegen'd `Column` expression builders (no UDFs) so they
  * stay inside whole-stage codegen at 100 TB scale.
  */
object Funcs {

  /** ε used by the reference's ubiquitous `x/(y+1e-8)` idiom
    * (reference: src/features/temporal_features_engine.py:144-147).
    * Centralized so oracle hashes stay stable across operators (SURVEY §7).
    */
  val Eps = 1e-8

  /** Safe division `x / (y + ε)` (reference idiom D12). */
  def safeDiv(x: Column, y: Column): Column = x / (y + lit(Eps))

  /** Day-of-week normalized to the pandas convention Mon=0..Sun=6.
    * Spark's `dayofweek` is Sun=1..Sat=7 (SURVEY §2.6 D1 convention gap:
    * reference src/features/temporal_features_engine.py:77-96 relies on
    * Mon=0..Sun=6 for `is_sunday`).
    */
  def dowMon0(d: Column): Column = (dayofweek(d) + lit(5)) % lit(7)

  /** Clip a column into [lo, hi] (reference D10 `np.clip`). */
  def clip(c: Column, lo: Column, hi: Column): Column = greatest(least(c, hi), lo)

  /** Deterministic hash-bucket `pmod(abs(hash(x)), n)` (reference D13,
    * src/utils/data_loader.py:363 — hash function differs from Python's
    * `hash`; documented semantic divergence).
    */
  def hashBucket(c: Column, n: Int): Column = pmod(abs(hash(c)), lit(n))

  /** Rounded double for oracle-stable output: sums of doubles differ from
    * other engines in the last ULPs; rounding both sides to `scale`
    * decimals makes hash comparison deterministic.
    */
  def r(c: Column, scale: Int = 4): Column = {
    // multiply→round(0)→divide mimics the common engine implementation
    // (std::round(x*10^s)/10^s). Spark's native round(c, s) converts the
    // exact binary double to decimal first, so a value printed as
    // x.xxxx5 (binary ...49999) rounds DOWN while engines using the
    // multiply form round it UP — a systematic off-by-one-ulp divergence
    // on terminating-decimal data (prices / small-int divisions).
    // graft_round_half_up, not Spark round: value-identical (pinned by
    // the RoundCheck bit-level probe + the full oracle gate) but skips
    // the ~160 ns/value BigDecimal.valueOf detour — r() wraps nearly
    // every engine output, so this is a whole-engine hot-path win
    // (q283's scoring tail alone spent 2.4 s/15M rows in round()).
    val p = math.pow(10, scale)
    // + 0.0 normalizes IEEE -0.0 → +0.0 (NULL stays NULL). The driver's
    // correctness gate hashes raw bytes, so a -0.0/+0.0 split between
    // engines is a hash mismatch; both this and every oracle SQL append
    // the same `+ 0.0` after rounding so zeros are bit-identical.
    graft.expr.RoundHalfUpExpr.column(c.cast("double") * lit(p)) / lit(p) + lit(0.0)
  }

  /** Exactness bound for the guarded-long micro sums: when
    * n·max|v| < 2^62 the TRUE sum lies inside ±2^62, and a two's-
    * complement long accumulation equals the true sum no matter how
    * partial aggregation ordered or wrapped the intermediates (modular
    * arithmetic: the final residue mod 2^64 of a value inside ±2^63 IS
    * the value). 4.0e18 < 2^62·... is the round double constant used
    * for the compare (2^62 ≈ 4.61e18; the slack absorbs the double
    * compare itself). */
  private[graft] val ExactLongBound = 4.0e18

  /** Session conf controlling the engine-wide exact-sum accumulator
    * (the r17 verdict's one-conf-recovery ask): `true` (the unset
    * default) = guarded exact-long buffers (fast; a group crossing
    * n·max|v| ≥ 2^62 raises loudly); `false` = the pre-r17
    * decimal(38,0) buffers verbatim (slower, but admits any magnitude
    * regime without aborting). Mirrors [[ExactPercentilesConf]]: a
    * 100 TB deployment whose group magnitudes exceed the long bound
    * flips ONE conf; no operator call sites change, and the two modes
    * are bit-identical wherever the guard admits (FuncsFallbackSpec
    * pins both the in-bound equality and the NaN/±Inf edge cases).
    * Read at COLUMN-CONSTRUCTION time (driver-side) from the ACTIVE
    * session, since a Column has no DataFrame to take a session from:
    * set it before the query is built — an already-built plan keeps
    * its accumulators. */
  val ExactLongSumsConf = "spark.graft.exactLongSums"

  private def exactLongs: Boolean = org.apache.spark.sql.SparkSession.active
    .conf.get(ExactLongSumsConf, "true").toBoolean

  /** Quantized micro-int as a LONG with decimal-cast-identical null
    * semantics: NaN and ±Infinity → NULL (the decimal(38,0) cast maps
    * both to NULL in non-ANSI mode — sum skips them either way; before
    * r18 an ±Inf input instead saturated the long cast and tripped the
    * guard into raise_error, a divergence from the decimal twin that
    * FuncsFallbackSpec now pins closed). One range test does it: Spark
    * orders NaN above +Infinity, so `between(−MaxValue, MaxValue)` is
    * false for NaN and both infinities and true for every finite value
    * (the earlier `isnan || abs = Inf` pair cost two predicates and an
    * abs per row inside every exact sum). Values beyond ±2^63 saturate
    * the long cast, drive max|v| to 2^63 and trip the
    * [[ExactLongBound]] guard — a LOUD raise_error where decimal(38,0)
    * kept summing; no 4dp-grid operator in the engine is within 10^4
    * of that regime (it needs |x| > 9·10^14 on the 1e-4 grid). */
  private def microLong(scaled: Column): Column =
    when(scaled.between(lit(-Double.MaxValue), lit(Double.MaxValue)), scaled).cast("long")

  /** The guarded exact-long sum: long-speed aggregation buffers (a
    * decimal(38,0) buffer exceeds UnsafeRow's 18-digit compact-long
    * slot, so EVERY update pays a serialized-BigDecimal detour —
    * measured ~330 ns/update vs ~30 ns for the long+max+count triple;
    * the q272 wide aggregate dropped 2.78 → 1.23 s at sf0.1) with the
    * overflow case failing loudly instead of wrapping (the r16 ADVICE
    * contract for long accumulators). Oracle twins are unchanged: the
    * long sum is bit-equal to the HUGEINT/decimal sum whenever the
    * guard admits it. */
  private def guardedLongSum(l: Column, outScale: Double, what: String): Column = {
    val s = sum(l); val g = max(abs(l)); val n = count(l)
    // g >= 0 closes the one hole in the bound: if EVERY row saturates
    // the long cast at Long.MinValue, abs(MinValue) is still MinValue
    // (two's complement) and a negative g would falsely admit — route
    // that pathological regime to the loud branch too
    when(g.isNull, lit(null).cast("double"))
      .when(g >= 0 && n.cast("double") * g.cast("double") < lit(ExactLongBound),
        s.cast("double") / lit(outScale))
      .otherwise(raise_error(lit(
        s"$what: group sum exceeds the exact-long bound (n*max|v| >= 2^62); " +
          "use the decimal variant for this magnitude regime")).cast("double"))
  }

  /** Exact mean of a 4dp-grid column: quantize each value to the 1e-4
    * grid once (round(x·1e4) as a micro-int), accumulate exactly
    * (guarded long — see [[guardedLongSum]]), divide back once.
    * Partial-aggregation-order independent where a raw `avg()` of
    * doubles can land one 4th-decimal ulp apart across partial orders
    * at a rounding knife-edge (the Theta/q221 class). For off-grid
    * inputs this is the exact mean of the quantized series — the
    * repo-wide determinism convention. Oracle twin:
    * `CAST(sum(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) + 0.0e0`. */
  def microMean(c: Column): Column =
    (if (exactLongs)
      guardedLongSum(microLong(
        graft.expr.RoundHalfUpExpr.column(c.cast("double") * lit(1e4))),
        1e4, "microMean")
    else microSumDec(c)) / count(lit(1)) + lit(0.0)

  /** [[microMean]] over a window: the same quantized sum, guard and
    * count as window aggregates, so every row carries its frame's exact
    * mean, bit-identical to the grouped form's. */
  def microMeanOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    guardedLongSumOver(microLong(
      graft.expr.RoundHalfUpExpr.column(c.cast("double") * lit(1e4))),
      1e4, w, "microMean") / count(lit(1)).over(w) + lit(0.0)

  /** Exact sum of a 4dp-grid column via guarded-long micro-int
    * accumulation — the summand of [[microMean]], shared by every
    * operator that needs partial-aggregation-order-independent error
    * sums. Exact for |x| up to 9·10^14 with the group bound
    * n·max|round(x·1e4)| < 2^62 (overflow raises — see
    * [[guardedLongSum]]). Oracle twin: `CAST(sum(CAST(round(x*1e4) AS
    * HUGEINT)) AS DOUBLE)/1e4`. */
  def microSum(c: Column): Column =
    if (exactLongs)
      guardedLongSum(microLong(
        graft.expr.RoundHalfUpExpr.column(c.cast("double") * lit(1e4))),
        1e4, "microSum")
    else microSumDec(c)

  /** Exact sum of squares of a 4dp-grid column (squares quantized to
    * the 1e-8 grid; guarded long — per-row |x| up to ~3·10^5 and the
    * n·max bound, overflow raises). Oracle twin:
    * `CAST(sum(CAST(round(x*x*1e8) AS HUGEINT)) AS DOUBLE)/1e8`. */
  def microSumSq(c: Column): Column =
    if (exactLongs)
      guardedLongSum(microLong(
        graft.expr.RoundHalfUpExpr.column((c * c).cast("double") * lit(1e8))),
        1e8, "microSumSq")
    else microSumSqDec(c)

  /** Guarded exact-long sum at an arbitrary quantization scale (the
    * generalized [[microSum]] — same bound, same loud overflow). */
  def microSumScaled(c: Column, scale: Double): Column =
    if (exactLongs)
      guardedLongSum(microLong(
        graft.expr.RoundHalfUpExpr.column(c.cast("double") * lit(scale))),
        scale, "microSumScaled")
    else
      sum(graft.expr.RoundHalfUpExpr.column(c.cast("double") * lit(scale))
        .cast("decimal(38,0)")).cast("double") / lit(scale)

  /** Guarded exact-long sum of a PAIRWISE PRODUCT of quantized factors:
    * per-group bound n·max|la|·max|lb| < 2^62 covers both the true-sum
    * magnitude and every per-row product (|la·lb| ≤ max|la|·max|lb|),
    * so neither the row multiply nor the accumulation can wrap
    * unnoticed — the Validation lag-1 cross-product device, shared. */
  def microSumProd(a: Column, sa: Double, b: Column, sb: Double): Column =
    if (exactLongs) {
      val la = microLong(graft.expr.RoundHalfUpExpr.column(a.cast("double") * lit(sa)))
      val lb = microLong(graft.expr.RoundHalfUpExpr.column(b.cast("double") * lit(sb)))
      val prod = la * lb
      val s = sum(prod); val ga = max(abs(la)); val gb = max(abs(lb))
      val n = count(prod)
      when(ga.isNull || gb.isNull, lit(null).cast("double"))
        .when(ga >= 0 && gb >= 0 &&
          n.cast("double") * ga.cast("double") * gb.cast("double") < lit(ExactLongBound),
          s.cast("double") / lit(sa * sb))
        .otherwise(raise_error(lit(
          "microSumProd: group sum exceeds the exact-long bound (n*max|a|*max|b| >= 2^62); " +
            "use a decimal form for this magnitude regime")).cast("double"))
    } else {
      val da = graft.expr.RoundHalfUpExpr.column(a.cast("double") * lit(sa))
        .cast("decimal(38,0)")
      val db = graft.expr.RoundHalfUpExpr.column(b.cast("double") * lit(sb))
        .cast("decimal(38,0)")
      sum(da * db).cast("double") / lit(sa * sb)
    }

  /** Guarded exact-long sum over an ALREADY QUANTIZED micro-int
    * column (still a double at this point — NaN maps to NULL exactly
    * like the decimal(38,0) cast it replaces). For call sites whose
    * quantization expression is not of the `c·scale` form (e.g.
    * `round(1e6/x)` — a single division, where `(1.0/x)·1e6` could
    * land one ulp away at a half-up knife-edge). */
  def microSumPre(scaled: Column, outScale: Double): Column =
    if (exactLongs) guardedLongSum(microLong(scaled), outScale, "microSumPre")
    else sum(scaled.cast("decimal(38,0)")).cast("double") / lit(outScale)

  /** Window twin of the guarded exact-long sum, over an ALREADY
    * QUANTIZED micro-int long column (callers own the rounding idiom —
    * round() vs graft_round_half_up — so the quantized value is
    * bit-identical to what their decimal form summed). */
  def guardedLongSumOver(l: Column, outScale: Double,
                         w: org.apache.spark.sql.expressions.WindowSpec,
                         what: String): Column =
    if (exactLongs) {
      val s = sum(l).over(w); val g = max(abs(l)).over(w); val n = count(l).over(w)
      when(g.isNull, lit(null).cast("double"))
        .when(g >= 0 && n.cast("double") * g.cast("double") < lit(ExactLongBound),
          s.cast("double") / lit(outScale))
        .otherwise(raise_error(lit(
          s"$what: window sum exceeds the exact-long bound (n*max|v| >= 2^62)"))
          .cast("double"))
    } else
      sum(l.cast("decimal(38,0)")).over(w).cast("double") / lit(outScale)

  /** decimal(38,0) twins for magnitude regimes the exact-long guard
    * cannot admit (high-scale quantizations like the r³/r⁴ power sums
    * at 1e12, whose PER-ROW micro-int already brushes 2^63): the
    * pre-r17 accumulators, kept verbatim. */
  def microSumDec(c: Column): Column =
    sum(graft.expr.RoundHalfUpExpr.column(c.cast("double") * lit(1e4))
      .cast("decimal(38,0)")).cast("double") / lit(1e4)

  def microSumSqDec(c: Column): Column =
    sum(graft.expr.RoundHalfUpExpr.column((c * c).cast("double") * lit(1e8))
      .cast("decimal(38,0)")).cast("double") / lit(1e8)

  /** Normalize NaN → NULL. Spark's corr/stddev return NaN on zero
    * variance where most SQL engines (and the reference's pandas ops)
    * return NULL; normalizing keeps downstream `when` ladders and oracle
    * comparisons consistent.
    */
  def nanToNull(c: Column): Column = when(isnan(c), lit(null).cast("double")).otherwise(c)

  /** Session conf controlling the engine-wide percentile default:
    * `true` (the unset default) = exact `percentile`, bit-identical to
    * pandas/the oracle; `false` = `percentile_approx` (t-digest sketch,
    * bounded memory per group) — the 100 TB setting. A cluster
    * deployment flips this ONE conf; no operator call sites change.
    * Only WHOLE-GROUP percentiles consult it — rolling medians over
    * bounded frames (n ≤ 12 rows) are already memory-bounded and stay
    * exact. */
  val ExactPercentilesConf = "spark.graft.exactPercentiles"

  /** Percentile with an exactness switch. Callers that need a specific
    * mode pass Some(...); the default (None) consults
    * [[ExactPercentilesConf]] on the ACTIVE session when the Column is
    * built (a Column has no DataFrame, so no session of its own). */
  def pct(c: Column, p: Double, exact: Option[Boolean] = None): Column = {
    val ex = exact.getOrElse(org.apache.spark.sql.SparkSession.active
      .conf.get(ExactPercentilesConf, "true").toBoolean)
    if (ex) percentile(c, lit(p)) else percentile_approx(c, lit(p), lit(10000))
  }

  /** Array form of [[pct]]: N percentiles of the same column share ONE
    * aggregation buffer (value→count map + one sort) instead of N
    * independent ones — same exact/approx switch, same per-quantile
    * values as N separate calls. */
  def pctArray(c: Column, ps: Seq[Double], exact: Option[Boolean] = None): Column = {
    val ex = exact.getOrElse(org.apache.spark.sql.SparkSession.active
      .conf.get(ExactPercentilesConf, "true").toBoolean)
    val arr = array(ps.map(lit): _*)
    if (ex) percentile(c, arr) else percentile_approx(c, arr, lit(10000))
  }
}
