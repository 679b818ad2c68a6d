package graft.seq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs.r

/** Per-series AR(5) by Yule–Walker / Levinson–Durbin — the order-search
  * probe for the reference's FULL autoregressive bound (pmdarima is
  * configured with max_p = 5, reference src/models/arima_temporal.py:
  * 69-70; the stepwise walk practically never leaves the (2,2) box on
  * weekly retail series, so the engine's BOARD stops there and this
  * member demonstrates the p = 5 leg the way q311's MA(3) grid
  * demonstrates the q leg — existence proof, not board member).
  *
  * Unlike the grid/CLS folds of the MA side, the AR side past order 2
  * stays CLOSED FORM: the biased autocovariances c₀..c₅ are six
  * map-side-combinable aggregates over lagged products, and the
  * Toeplitz system solves by the Levinson–Durbin recursion — five
  * levels of pure scalar arithmetic at the key grain, no iteration
  * over data, no grid. The reflection coefficients k₁..k₅ the
  * recursion emits along the way ARE the partial autocorrelations
  * (the PACF column pmdarima's order heuristics read).
  *
  * Execution shape: one series-window pass for the five lags and the
  * ascending index the last-five pivot reads ([[SeriesTail]]), one
  * aggregate for the sufficient sums and the pivot, scalar
  * Levinson at the key grain, one join-back pass for the in-sample
  * SSE. Two exchanges total on the series key, both map-side combined
  * — scales in the series count exactly like [[Ar]].
  *
  * Determinism (the repo-wide micro-int convention): the centered
  * value x_t − μ (μ the exact [[graft.functions.Funcs.microMean]])
  * quantizes once to the 1e-4 grid; every lagged-product sum
  * accumulates exactly in decimal(38,0) micro²-units, converts to
  * double once, and the recursion runs the same scalar expression
  * shapes both engines. Divisions are guarded (denominator swapped to
  * 1 under |·| < 1e-12) so a degenerate series produces the SAME
  * well-defined garbage on both engines, and the `ok` gate (c₀ ≥ 1e-8
  * and every prediction-error variance v₁..v₄ nondegenerate) zeroes
  * the φ's — mean forecast — rather than rounding an infinity.
  * Coefficients round to the 4dp grid before use; the h-step forecast
  * recursion rounds each step before feeding it forward (the [[Ar]]
  * convention that lets a plain-SQL oracle replay the chain exactly).
  */
object YuleWalker {

  private val C0Eps = 1e-8
  private val VEps = 1e-12

  /** Denominator guard: swap a degenerate denominator for 1 so the
    * division is defined everywhere; the `ok` gate discards the branch. */
  private def sden(c: Column): Column =
    when(abs(c) >= VEps, c).otherwise(lit(1.0))

  /** Key-grain AR(5) fit table: keys..., yw_phi1..yw_phi5 (rounded,
    * zero when the series is degenerate), yw_sse (in-sample one-step
    * SSE over the lag-5-conditioned rows), yw_neff (that row count),
    * plus the exact mean `__mu` and the last five quantized centered
    * values `__x1` (most recent) .. `__x5` for the forecast recursion.
    * Series with fewer than 3 conditioned rows (n < 8) are absent. */
  def ar5Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
              valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val (t, lev) = prep(df, keyCols, ordCols, valueCol)
    def ph(raw: Column) = r(when(col("__ok"), raw).otherwise(lit(0.0)))
    val coefs = lev.select(keys ++ Seq(
      ph(col("__a41") - col("__k5") * col("__k4")).as("yw_phi1"),
      ph(col("__a42") - col("__k5") * col("__a43")).as("yw_phi2"),
      ph(col("__a43") - col("__k5") * col("__a42")).as("yw_phi3"),
      ph(col("__k4") - col("__k5") * col("__a41")).as("yw_phi4"),
      ph(col("__k5")).as("yw_phi5"),
      col("__np5").as("yw_neff"), col("__mu"),
      (col("__x1i").cast("double") / lit(1e4) + lit(0.0)).as("__x1"),
      (col("__x2i").cast("double") / lit(1e4) + lit(0.0)).as("__x2"),
      (col("__x3i").cast("double") / lit(1e4) + lit(0.0)).as("__x3"),
      (col("__x4i").cast("double") / lit(1e4) + lit(0.0)).as("__x4"),
      (col("__x5i").cast("double") / lit(1e4) + lit(0.0)).as("__x5")): _*)
    // second pass: in-sample one-step SSE on the conditioned rows
    def xq(c: Column) = c.cast("double") / lit(1e4) + lit(0.0)
    val resid = xq(col("__m")) -
      (col("yw_phi1") * xq(col("__i1")) + col("yw_phi2") * xq(col("__i2")) +
       col("yw_phi3") * xq(col("__i3")) + col("yw_phi4") * xq(col("__i4")) +
       col("yw_phi5") * xq(col("__i5")))
    val dec = "decimal(38,0)"
    val sse = t.filter(col("__i5").isNotNull)
      .join(coefs.select((keys :+ col("yw_phi1") :+ col("yw_phi2") :+
        col("yw_phi3") :+ col("yw_phi4") :+ col("yw_phi5")): _*), keyCols)
      .withColumn("__res", resid)
      .groupBy(keys: _*)
      .agg(r(sum(graft.expr.RoundHalfUpExpr.column(col("__res") * col("__res") * lit(1e8)).cast(dec))
        .cast("double") / lit(1e8)).as("yw_sse"))
    coefs.join(sse, keyCols)
  }

  /** Box–Jenkins identification table: sample ACF r₁..r₅ (= cₖ/c₀,
    * biased autocovariances) and PACF κ₁..κ₅ (the Levinson reflection
    * coefficients) per series, rounded to the 4dp grid; zeros on
    * degenerate series. The classic order-selection diagnostic the
    * reference's ARIMA layer reads (pmdarima seeds its stepwise walk
    * from these shapes) — here ONE distributed pass for every series
    * at once. Same eligibility as [[ar5Full]] (≥ 3 lag-5 pairs). */
  def acfPacf(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
              valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val (_, lev) = prep(df, keyCols, ordCols, valueCol)
    def g(raw: Column) = r(when(col("__ok"), raw).otherwise(lit(0.0)))
    lev.select(keys ++ Seq(
      g(col("__c1") / sden(col("__c0"))).as("acf1"),
      g(col("__c2") / sden(col("__c0"))).as("acf2"),
      g(col("__c3") / sden(col("__c0"))).as("acf3"),
      g(col("__c4") / sden(col("__c0"))).as("acf4"),
      g(col("__c5") / sden(col("__c0"))).as("acf5"),
      g(col("__k1")).as("pacf1"),
      g(col("__k2")).as("pacf2"),
      g(col("__k3")).as("pacf3"),
      g(col("__k4")).as("pacf4"),
      g(col("__k5")).as("pacf5"),
      col("__np5").as("yw_neff")): _*)
  }

  /** Ljung–Box portmanteau statistic at h = 5 (Ljung & Box 1978):
    * Q = n(n+2) Σ_{k=1..5} r_k²/(n−k) over the same biased sample
    * autocorrelations [[acfPacf]] reports — the whiteness test
    * Box–Jenkins runs on a candidate's residuals before trusting its
    * orders (compare Q to χ²_{h−p−q}; the engine reports Q and n, the
    * threshold is the caller's). Computed from the 4dp-ROUNDED r_k
    * (exactly the q314 values) so the statistic replays bit-exactly
    * cross-engine; degenerate series report Q = 0 via the same `ok`
    * gate. Eligibility as [[ar5Full]]. */
  def ljungBox(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
               valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val (_, lev) = prep(df, keyCols, ordCols, valueCol)
    def g(raw: Column) = r(when(col("__ok"), raw).otherwise(lit(0.0)))
    val n = col("__n")
    val terms = (1 to 5).map { k =>
      val rk = g(col(s"__c$k") / sden(col("__c0")))
      rk * rk / (n - k)
    }.reduce(_ + _)
    lev.select(keys ++ Seq(n.as("n_obs"),
      r(when(col("__ok"), n * (n + 2) * terms).otherwise(lit(0.0)))
        .as("lb_q")): _*)
  }

  /** Shared prep: the lag-windowed frame `t` and the key-grain
    * Levinson frame (autocovariances, reflection coefficients, `__ok`
    * gate, last-five pivot). */
  private def prep(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                   valueCol: String): (DataFrame, DataFrame) = {
    val keys = keyCols.map(col)
    val mu = df.groupBy(keys: _*)
      .agg(graft.functions.Funcs.microMean(col(valueCol)).as("__mu"))
    val w = Window.partitionBy(keys: _*).orderBy(ordCols: _*)
    val t = SeriesTail.indexed(df.join(mu, keyCols), keyCols, ordCols)
      .withColumn("__xc", col(valueCol).cast("double") - col("__mu"))
      .withColumn("__m", graft.expr.RoundHalfUpExpr.column(col("__xc") * lit(1e4)).cast("long"))
      .withColumn("__i1", lag(col("__m"), 1).over(w))
      .withColumn("__i2", lag(col("__m"), 2).over(w))
      .withColumn("__i3", lag(col("__m"), 3).over(w))
      .withColumn("__i4", lag(col("__m"), 4).over(w))
      .withColumn("__i5", lag(col("__m"), 5).over(w))
    val dec = "decimal(38,0)"
    def d8(c: Column) = c.cast("double") / lit(1e8) + lit(0.0)
    def prod(k: Column) = d8(sum(col("__m").cast(dec) * k))
    val sums = t.groupBy(keys: _*).agg(
      count(lit(1)).cast("double").as("__n"),
      count(col("__i5")).cast("double").as("__np5"),
      prod(col("__m")).as("__p0"),
      prod(col("__i1")).as("__p1"),
      prod(col("__i2")).as("__p2"),
      prod(col("__i3")).as("__p3"),
      prod(col("__i4")).as("__p4"),
      prod(col("__i5")).as("__p5"),
      SeriesTail.last(col("__m")).as("__x1i"),
      SeriesTail.last(col("__m"), lit(1)).as("__x2i"),
      SeriesTail.last(col("__m"), lit(2)).as("__x3i"),
      SeriesTail.last(col("__m"), lit(3)).as("__x4i"),
      SeriesTail.last(col("__m"), lit(4)).as("__x5i"),
      first(col("__mu")).as("__mu"))
      .filter(col("__np5") >= 3)
    // Levinson–Durbin, five levels unrolled as one select chain; every
    // expression shape is mirrored verbatim in the q313 oracle SQL.
    val lev = sums
      .withColumn("__c0", col("__p0") / col("__n"))
      .withColumn("__c1", col("__p1") / col("__n"))
      .withColumn("__c2", col("__p2") / col("__n"))
      .withColumn("__c3", col("__p3") / col("__n"))
      .withColumn("__c4", col("__p4") / col("__n"))
      .withColumn("__c5", col("__p5") / col("__n"))
      .withColumn("__k1", col("__c1") / sden(col("__c0")))
      .withColumn("__v1", col("__c0") * (lit(1.0) - col("__k1") * col("__k1")))
      .withColumn("__k2",
        (col("__c2") - col("__k1") * col("__c1")) / sden(col("__v1")))
      .withColumn("__a21", col("__k1") - col("__k2") * col("__k1"))
      .withColumn("__v2", col("__v1") * (lit(1.0) - col("__k2") * col("__k2")))
      .withColumn("__k3",
        (col("__c3") - col("__a21") * col("__c2") - col("__k2") * col("__c1"))
          / sden(col("__v2")))
      .withColumn("__a31", col("__a21") - col("__k3") * col("__k2"))
      .withColumn("__a32", col("__k2") - col("__k3") * col("__a21"))
      .withColumn("__v3", col("__v2") * (lit(1.0) - col("__k3") * col("__k3")))
      .withColumn("__k4",
        (col("__c4") - col("__a31") * col("__c3") - col("__a32") * col("__c2")
          - col("__k3") * col("__c1")) / sden(col("__v3")))
      .withColumn("__a41", col("__a31") - col("__k4") * col("__k3"))
      .withColumn("__a42", col("__a32") - col("__k4") * col("__a32"))
      .withColumn("__a43", col("__k3") - col("__k4") * col("__a31"))
      .withColumn("__v4", col("__v3") * (lit(1.0) - col("__k4") * col("__k4")))
      .withColumn("__k5",
        (col("__c5") - col("__a41") * col("__c4") - col("__a42") * col("__c3")
          - col("__a43") * col("__c2") - col("__k4") * col("__c1"))
          / sden(col("__v4")))
      .withColumn("__ok",
        col("__c0") >= C0Eps && abs(col("__v1")) >= VEps &&
        abs(col("__v2")) >= VEps && abs(col("__v3")) >= VEps &&
        abs(col("__v4")) >= VEps)
    (t, lev)
  }

  /** h-step forecast from [[ar5Full]]'s table: one row per
    * (series, step). Centered recursion g_s = Σ φᵢ·g/x feed, each step
    * rounded before feeding forward; forecast_s = round(μ + g_s). */
  def ar5ForecastFrom(base: DataFrame, keyCols: Seq[String], h: Int): DataFrame = {
    require(h >= 1 && h <= 8, s"h must be in [1, 8], got $h")
    val phis = (1 to 5).map(i => col(s"yw_phi$i"))
    // regressor for coefficient j at step s: g_{s-j} if s > j else x_{j-s+1}
    def reg(s: Int, j: Int): Column =
      if (s > j) col(s"__g${s - j}") else col(s"__x${j - s + 1}")
    val withG = (1 to h).foldLeft(base) { (d, s) =>
      d.withColumn(s"__g$s",
        r(phis.zipWithIndex.map { case (p, i) => p * reg(s, i + 1) }
          .reduce(_ + _)))
    }
    val stepped = withG.withColumn("__fc", explode(array(
      (1 to h).map(s => struct(lit(s.toLong).as("step"),
        r(col("__mu") + col(s"__g$s")).as("forecast"))): _*)))
    stepped.select((keyCols.map(col) ++ Seq(
      col("yw_phi1"), col("yw_phi2"), col("yw_phi3"), col("yw_phi4"),
      col("yw_phi5"), col("yw_sse"), col("yw_neff"),
      col("__fc.step").as("step"), col("__fc.forecast").as("forecast"))): _*)
  }
}
