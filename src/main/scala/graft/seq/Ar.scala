package graft.seq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs.r

/** Per-series AR(2) with intercept — the autoregressive member of the
  * sequential family (the AR core of the reference's ARIMA engine,
  * src/models/arima_temporal.py; full auto-ARIMA order search is
  * ML-layer, the closed-form AR fit is engine-expressible):
  *
  *   x_t = c + φ1·x_{t−1} + φ2·x_{t−2} + ε_t
  *
  * fit by ordinary least squares over the rows where both lags exist,
  * solved in closed form from nine sufficient sums via Cramer's rule
  * on the 3×3 normal equations. Execution shape: [[fitted]] takes the
  * lags and the sums from one series window (the sums as unbounded
  * window aggregates, so no coefficient table is joined back); every
  * forecaster reads the coefficients, the last two values and the
  * residual sums off that same pass in one [[SeriesTail]] aggregate
  * per series, with no join, no checkpoint and no second order. No
  * iteration, no driver loop, no per-group materialization.
  *
  * Determinism convention (the q213 Theta recipe, unified here in r10):
  * every value quantizes to the 1e-4 grid once (round(x·1e4) as a
  * micro-int) and every sufficient sum accumulates EXACTLY in
  * decimal(38,0) — linear sums in 1e-4 units, lag-product sums in 1e-8
  * units — then converts to double once before the Cramer solve. The
  * sums are therefore identical in any partial-aggregation order and
  * for fractional-valued series, not just integer-valued ones (the r9
  * verdict carried the integer-only bound of the earlier rounded-double
  * sums as a knife-edge risk; this closes it). Coefficients are rounded
  * before use and the h-step forecast recursion rounds each step before
  * feeding it forward, which is what lets a recursive-CTE oracle
  * reproduce the chain exactly. Off-grid (finer than 4dp) series fit
  * against their 1e-4-quantized values — the same documented
  * quantization Theta applies.
  *
  * Decimal bound: a product sum accumulates Σ round(x·1e4)² — with
  * |x| ≤ 10^10 and 10^9 rows per series that is < 10^38 with headroom;
  * beyond it Spark's decimal overflows to null (ANSI off) rather than
  * silently wrapping.
  *
  * Degenerate series (fewer than 3 regression rows, or |det| < 1e-8 —
  * e.g. perfectly collinear lags from a linear series) fall back to
  * the sample-mean forecast: c = mean, φ1 = φ2 = 0. Series too short
  * to regress at all get null coefficients.
  */
object Ar {

  private val DetEps = 1e-8

  /** The nine exact sufficient sums of the regression rows (`rows`:
    * where `l2`, and so `l1`, exists) as aggregate functions, in the order
    * [[solve]] reads them: n, Σy, Σl1, Σl2, Σy·l1, Σy·l2, Σl1², Σl2²,
    * Σl1·l2. Linear sums are in 1e-4 units, products in 1e-8 units,
    * all in decimal(38,0) (see the object scaladoc). */
  private def rawSums(y: Column, l1: Column, l2: Column, rows: Column): Seq[Column] = {
    // m() quantizes to decimal micro-units for the exact sum, mL() is
    // the long twin used as the second product factor (decimal × long
    // stays decimal); the operands, not each sum, are NULLed outside
    // `rows`, so every quantized operand is generated and evaluated once
    val dec = "decimal(38,0)"
    val Seq(yr, l1r, l2r) = Seq(y, l1, l2).map(when(rows, _))
    def m(c: Column) = graft.expr.RoundHalfUpExpr.column(c * lit(1e4)).cast(dec)
    def mL(c: Column) = graft.expr.RoundHalfUpExpr.column(c * lit(1e4)).cast("long")
    Seq(count(when(rows, lit(1))), sum(m(yr)), sum(m(l1r)), sum(m(l2r)),
      sum(m(yr) * mL(l1r)), sum(m(yr) * mL(l2r)), sum(m(l1r) * mL(l1r)),
      sum(m(l2r) * mL(l2r)), sum(m(l1r) * mL(l2r)))
  }

  /** (c, φ1, φ2) by Cramer's rule on the symmetric normal matrix
    * [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] from [[rawSums]]' values,
    * rounded; NULL where there is no regression row. Only the cheap
    * fallbacks are conditional, so the determinant, which every
    * coefficient's test reads, is generated and evaluated once. */
  private def solve(raw: Seq[Column]): Seq[Column] = {
    def d4(c: Column) = c.cast("double") / lit(1e4) + lit(0.0)
    def d8(c: Column) = c.cast("double") / lit(1e8) + lit(0.0)
    val n = raw(0).cast("double")
    val Seq(sy, s1, s2) = raw.slice(1, 4).map(d4)
    val Seq(sy1, sy2, s11, s22, s12) = raw.drop(4).map(d8)
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val detC = sy * (s11 * s22 - s12 * s12) - s1 * (sy1 * s22 - s12 * sy2) +
      s2 * (sy1 * s12 - s11 * sy2)
    val detP1 = n * (sy1 * s22 - s12 * sy2) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * sy2 - sy1 * s2)
    val detP2 = n * (s11 * sy2 - s12 * sy1) - s1 * (s1 * sy2 - sy1 * s2) +
      sy * (s1 * s12 - s11 * s2)
    val ok = (n >= 3) && abs(det) >= DetEps
    val flat = when(n >= 1, lit(0.0))
    Seq(when(ok, detC / det).otherwise(sy / n), when(ok, detP1 / det).otherwise(flat),
      when(ok, detP2 / det).otherwise(flat)).map(c => r(c))
  }

  /** The coefficient column names of a fit prefix. */
  private def coefCols(prefix: String): Seq[String] =
    Seq("c", "phi1", "phi2").map(prefix + _)

  private def indexedLags(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                          valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    df.withColumn("__y", col(valueCol).cast("double"))
      .withColumn("__l1", lag(col("__y"), 1).over(w))
      .withColumn("__l2", lag(col("__y"), 2).over(w))
  }

  /** Adds `ar_c`/`ar_phi1`/`ar_phi2` plus `ar_fitted` (the one-step
    * in-sample prediction c + φ1·x_{t−1} + φ2·x_{t−2}; null where a
    * lag is missing; every column null where the series is too short
    * to regress). `ord` must be unique per key; `valueCol` non-null.
    *
    * The coefficients are unbounded series-window aggregates, so the
    * fit rides the lag window's exchange and sort with no coefficient
    * table joined back. The sums are exact decimal sums, so their value
    * does not depend on the order a window or a partial aggregate adds
    * in: the coefficients equal the grouped form's bit for bit. */
  def fitted(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
             valueCol: String): DataFrame =
    fitRows(df, keyCols, ord, valueCol)
      .drop(sumCols("ar_") ++ Seq("__y", "__l1", "__l2"): _*)

  /** [[fitted]]'s window pass with its working columns attached: `__y`
    * and its lags `__l1`/`__l2`, the nine sums, the coefficients and
    * `ar_fitted` on every row. */
  private def fitRows(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                      valueCol: String): DataFrame = {
    val (y, l1, l2) = (col("__y"), col("__l1"), col("__l2"))
    indexedLags(df, keyCols, ord, valueCol)
      .select(col("*") +: fitSums(keyCols, ord, y, l1, l2, "ar_"): _*)
      .select(col("*") +: fitCoefs("ar_"): _*)
      .select(col("*"), fittedOf(l1, l2, "ar_"))
  }

  /** One row per series the fit regresses (at least one regression
    * row): keys..., `__count`, ar_c/ar_phi1/ar_phi2 from [[fitted]]'s
    * window sums, the last two values `__xn` and `__xn1`, the exact sum
    * of squared residuals of the rounded fit `__ss` and their count
    * `__nfit`, then the `tail` columns ([[SeriesTail]]) — one aggregate
    * over the fit's own window pass. `valueCol` may be NULL on a
    * series' leading rows (a differenced series): such a row is no
    * regression row and, as the last two values are, never read. */
  private def lastState(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                        valueCol: String, tail: Seq[Column] = Nil): DataFrame = {
    val (y, fit) = (col("__y"), col("ar_fitted"))
    // residuals are 4dp-grid (fit is rounded), so their squares live on
    // the 1e-8 grid: sum exact micro²-longs and divide back once — a raw
    // double sum would be partial-agg-order dependent (the Theta
    // knife-edge class)
    SeriesTail.of(SeriesTail.indexed(fitRows(df, keyCols, ord, valueCol), keyCols, ord),
      keyCols, coefCols("ar_").map(c => SeriesTail.last(col(c)).as(c)) ++ Seq(
        SeriesTail.last(y).as("__xn"), SeriesTail.last(y, lit(1)).as("__xn1"),
        graft.functions.Funcs.microSumSq(y - fit).as("__ss"), count(fit).as("__nfit")) ++
        tail)
      .filter(col("__nfit") >= 1)
  }

  private def sumCols(prefix: String): Seq[String] = (0 until 9).map(i => s"__${prefix}s$i")

  /** A fit's nine sums as unbounded series-window aggregates, one column
    * each; the champion family takes its ar2 and ari sums (ari from x's
    * own lags) in one window pass with them. A series with a NULL key
    * sums no row, so its coefficients are NULL, as a left join of the
    * grouped table would give them. */
  private[seq] def fitSums(keyCols: Seq[String], ord: Seq[Column], y: Column, l1: Column,
                           l2: Column, prefix: String): Seq[Column] = {
    val wAll = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val keyed = keyCols.map(col(_).isNotNull).reduce(_ && _)
    rawSums(y, l1, l2, l2.isNotNull && keyed).zip(sumCols(prefix))
      .map { case (s, n) => s.over(wAll).as(n) }
  }

  /** `<prefix>c`, `<prefix>phi1`, `<prefix>phi2` from the [[fitSums]]
    * columns. */
  private[seq] def fitCoefs(prefix: String): Seq[Column] =
    solve(sumCols(prefix).map(col)).zip(coefCols(prefix)).map { case (v, n) => v.as(n) }

  /** `<prefix>fitted`: c + φ1·l1 + φ2·l2 from the coefficient columns,
    * rounded; NULL where a lag is missing. */
  private[seq] def fittedOf(l1: Column, l2: Column, prefix: String): Column = {
    val Seq(c, p1, p2) = coefCols(prefix).map(col)
    when(l2.isNotNull, r(c + p1 * l1 + p2 * l2)).as(prefix + "fitted")
  }

  /** The rounded h-step recursion over one series' coefficients and its
    * last two observations x_n, x_{n−1}: f_1 = c + φ1·x_n + φ2·x_{n−1},
    * f_s = c + φ1·f_{s−1} + φ2·f_{s−2}, each step rounded before it
    * feeds forward. Shared by every AR forecaster (and the champion
    * family's ar2/ari members) so the chain exists once. */
  private[seq] def forecastSteps(c: Column, phi1: Column, phi2: Column,
                                 xn: Column, xn1: Column, h: Int): Vector[Column] =
    (1 to h).foldLeft(Vector.empty[Column]) { (acc, s) =>
      val (p1, p2) = s match {
        case 1 => (xn, xn1)
        case 2 => (acc(0), xn)
        case _ => (acc(s - 2), acc(s - 3))
      }
      acc :+ r(c + phi1 * p1 + phi2 * p2)
    }

  /** h-step-ahead forecast recursion, one output row per (series, step):
    *   f_1 = c + φ1·x_n + φ2·x_{n−1}
    *   f_s = c + φ1·f_{s−1} + φ2·f_{s−2}   (forecasts feed back as lags)
    * each step rounded before feeding forward. Series too short to fit
    * (no regression row) are dropped. The unrolled chain is pure column
    * arithmetic at the key grain — h small (forecast horizons), so no
    * exchange beyond the fit's. */
  def forecast(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
               valueCol: String, h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    SequentialKernels.stepRows(lastState(df, keyCols, ord, valueCol), keyCols,
      steps(h), "ar_forecast")
  }

  /** [[forecastSteps]] over a [[lastState]] row. */
  private def steps(h: Int): Vector[Column] =
    forecastSteps(col("ar_c"), col("ar_phi1"), col("ar_phi2"), col("__xn"), col("__xn1"), h)

  /** h-step forecasts WITH prediction intervals — the engine-side
    * equivalent of the reference's `predict_with_intervals`
    * (src/models/arima_temporal.py:404-461): a z-band around each
    * forecast from the closed-form h-step forecast variance
    *
    *   Var(h) = σ² · Σ_{j=0}^{h−1} ψ_j²,   ψ_0 = 1,
    *   ψ_j = φ1·ψ_{j−1} + φ2·ψ_{j−2}       (AR(2) MA(∞) weights)
    *
    * with σ² the in-sample one-step residual variance (mean of squared
    * rounded-fit residuals, rounded — the house determinism
    * convention) and z a literal constant (default the 95% normal
    * quantile). ψ and the cumulative ψ² sum unroll as rounded column
    * arithmetic next to the forecast fold, so the recursive-CTE oracle
    * replays the identical chain. σ², the coefficients and the last
    * two values come from the fit's one per-series aggregate
    * ([[lastState]]). Output grain: (keys, step, ar_forecast, ar_lo,
    * ar_hi). */
  def forecastIntervals(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                        valueCol: String, h: Int,
                        z: Double = 1.959964): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val key = keyCols.map(col)
    val base = lastState(df, keyCols, ord, valueCol)
      .withColumn("__s2", r(col("__ss") / col("__nfit")))
    val steps = this.steps(h)
    // ψ weights and the left-folded cumulative ψ² sums, both rounded
    // per step exactly as the oracle's recursive CTE carries them
    val psis = (1 until h).foldLeft(Vector[Column](lit(1.0))) { (acc, j) =>
      val prev2 = if (j >= 2) acc(j - 2) else lit(0.0)
      acc :+ r(col("ar_phi1") * acc(j - 1) + col("ar_phi2") * prev2)
    }
    val cums = (1 until h).foldLeft(Vector[Column](lit(1.0))) { (acc, s) =>
      acc :+ (acc(s - 1) + psis(s) * psis(s))
    }
    val rows = (1 to h).map { s =>
      val f = steps(s - 1)
      val half = lit(z) * sqrt(col("__s2") * cums(s - 1))
      struct(f.as("f"), r(f - half).as("lo"), r(f + half).as("hi"))
    }
    base.select(key :+ posexplode(array(rows: _*)).as(Seq("__p", "__r")): _*)
      .withColumn("step", (col("__p") + 1).cast("long"))
      .select(key ++ Seq(col("step"), col("__r.f").as("ar_forecast"),
        col("__r.lo").as("ar_lo"), col("__r.hi").as("ar_hi")): _*)
  }

  /** Seasonal ARI: the seasonal-differencing member (the reference's
    * seasonal ARIMA order (1,1,1,m), src/models/arima_temporal.py:224)
    * — AR(2) fit on the lag-m SEASONAL differences y_t − y_{t−m},
    * h diff forecasts, each integrated against its own observed
    * seasonal base:
    *
    *   ŷ_{n+s} = r( y_{n+s−m} + d̂_{n+s} )      (requires h ≤ m, so
    *                                             every base is observed)
    *
    * No cumulative chain: unlike d=1 integration each step anchors on
    * an observed value, which also stops error compounding across the
    * horizon. Series too short to difference-and-fit drop, matching
    * [[forecastIntegrated]]'s support rule. */
  def forecastSeasonalIntegrated(df: DataFrame, keyCols: Seq[String],
                                 ord: Seq[Column], valueCol: String,
                                 m: Int, h: Int): DataFrame = {
    val bases = (1 to h).map(s => col(s"__b$s"))
    SequentialKernels.stepRows(seasonalState(df, keyCols, ord, valueCol, m, h), keyCols,
      steps(h).zip(bases).map { case (f, b) => r(b + f) }, "sari_forecast")
  }

  /** The seasonal ARI's [[lastState]] row: the AR(2) fit on the lag-m
    * differences, with the season bases `__b1`..`__bh` (y_{n−m+s}) read
    * by the same aggregate. The extended order search scores its sari
    * member from the same row. */
  private[seq] def seasonalState(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                                 valueCol: String, m: Int, h: Int): DataFrame = {
    require(m >= 1, "seasonal period must be at least 1")
    require(h >= 1 && h <= m, "horizon must lie in [1, m] so bases are observed")
    lastState(SequentialKernels.diffs(df, keyCols, ord, valueCol, m, "__dy"), keyCols, ord,
      "__dy", SeriesTail.bases(col(valueCol).cast("double"), lit(m), h))
  }

  /** ARI(2,1): the d=1 member of the family (reference fits
    * ARIMA(2,1,2), src/models/arima_temporal.py:339-345) — fit the
    * AR(2) on the FIRST DIFFERENCES, forecast h diff steps with the
    * same rounded recursion, then integrate back from the last
    * observed level:
    *
    *   ŷ_{n+s} = r( y_n + Σ_{j≤s} d̂_{n+j} )
    *
    * The cumulative sum runs in step order inside one key partition
    * (both engines left-fold the same rounded diff forecasts, so the
    * IEEE chain is identical). Series the AR fit cannot regress on the
    * differences are dropped, its own support rule. Pure composition:
    * one extra lag window for the differencing, and the last level y_n
    * is read by the fit's own aggregate. */
  def forecastIntegrated(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                         valueCol: String, h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val base = lastState(SequentialKernels.diffs(df, keyCols, ord, valueCol, 1, "__dy"),
      keyCols, ord, "__dy", Seq(SeriesTail.last(col(valueCol).cast("double")).as("__yn")))
    SequentialKernels.integrated(SequentialKernels.stepRows(base, keyCols :+ "__yn", steps(h),
      "ar_forecast"), keyCols, "ar_forecast", "ari_forecast")
      .select((keyCols ++ Seq("step", "ari_forecast")).map(col): _*)
  }
}
