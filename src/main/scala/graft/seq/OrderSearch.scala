package graft.seq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs.r

/** Extended ARIMA order search — the family members past the champion
  * eight that close the engine toward the reference's stepwise
  * auto-ARIMA search space (src/models/arima_temporal.py:277-361:
  * pmdarima stepwise over p ≤ 5, q ≤ 5, d ≤ 2; statsmodels fallback
  * fits a literal (2,1,2)). pmdarima's stepwise walk is a SEQUENTIAL
  * cost-saving device for a single in-memory series — it prunes the
  * candidate grid because each candidate fit is expensive on one core.
  * The engine re-expresses the search Spark-first: every candidate
  * order fits for EVERY series in the same handful of distributed
  * passes (each member is one fold/window + key-grain aggregate), so
  * the full grid costs what one stepwise path costs and the argmin is
  * the global optimum over the searched space, never a local stepwise
  * trap. The searched orders:
  *
  *   family (Champion)   (0,0,0)+μ, snaive, (2,0,0), (2,1,0),
  *                       (0,0,1), (1,0,1), theta, damped Holt
  *   this module         (0,2,1)  MA(1) on SECOND differences (d = 2
  *                                coverage — pmdarima's max_d)
  *                       (2,1,1)  ARMA(2,1) on first differences
  *                                (p = 2 with a joint MA side)
  *                       (2,1,2)  ARMA(2,2) on first differences —
  *                                the reference's statsmodels-fallback
  *                                LITERAL order (arima_temporal.py:341)
  *                       sari     SARIMA(2,0,0)(0,1,0)_m — AR(2) on
  *                                the lag-m seasonal differences
  *                                (the seasonal-P + seasonal-D legs)
  *                       sma      SARIMA(0,0,1)(0,1,0)_m — MA(1) on
  *                                the lag-m seasonal differences
  *                                (the seasonal-Q leg, max_Q)
  *                       sarma    SARIMA(1,0,1)(0,1,0)_m — ARMA(1,1)
  *                                on the lag-m seasonal differences
  *                                (the JOINT seasonal P=1,Q=1 member,
  *                                the reference's configured
  *                                seasonal_order=(1,1,1,period) shape,
  *                                arima_temporal.py:224)
  *
  * Scoring and ranking follow the Champion conventions exactly:
  * AIC = n_eff·ln(max(SSE, 1e-8)/n_eff) + 2k rounded to the 4dp grid,
  * k the literal parameter count ((0,2,1): θ + μ = 2; (2,1,1):
  * φ₁ + φ₂ + θ + μ = 4; (2,1,2): φ₁ + φ₂ + θ₁ + θ₂ + μ = 5; sari: the
  * AR(2) intercept + 2 coefs = 3; sma: θ + μ = 2; sarma:
  * φ + θ + μ = 3), ties break to the fixed member
  * order with the new members ranked after the family eight. A member
  * enters a series' scoreboard only when identified: (0,2,1) needs ≥ 2
  * second-difference residuals (n ≥ 4), (2,1,1) and (2,1,2) need ≥ 2
  * conditioned diff residuals (n ≥ 5), sari needs ≥ 3 seasonal-diff
  * regression rows (n ≥ m + 5), sma needs ≥ 2 seasonal-diff rows
  * (n ≥ m + 2), sarma needs ≥ 3 seasonal-diff rows — ≥ 2 conditioned
  * residuals — (n ≥ m + 3).
  *
  * Execution shape: the grid-fold members reuse the family's single-
  * exchange kernels ([[SequentialKernels.fitMa1Full]] on Δ²x and on
  * the lag-m seasonal differences, [[SequentialKernels.fitArma11Full]]
  * on the lag-m seasonal differences, [[SequentialKernels
  * .fitArma21Full]] and [[SequentialKernels.fitArma22Full]] on Δx);
  * the union scoreboard is series-grain tiny. Scales in the series
  * count like Champion.
  */
object OrderSearch {

  /** ARIMA(0,2,1) fit: the MA(1) CLS grid fold run on the second
    * differences, with the integration state a forecast needs. One row
    * per series with ≥ 3 observations (two differencing passes):
    * d2_theta, d2_sse, d2_neff (the residual count, n − 2), d2_mu (the
    * exact micro-int mean of Δ²x), d2_eps_last, plus y_last (= y_n)
    * and dy_last (= Δy_n) for the double integration. The residual
    * count and the last level and difference come from the grid fit's
    * own per-series aggregate. */
  def arima021Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                   valueCol: String,
                   grid: Seq[Double] = SequentialKernels.Ma1Grid): DataFrame = {
    require(grid.nonEmpty, "theta grid must be non-empty")
    val dy = SequentialKernels.diffs(SeriesTail.indexed(df, keyCols, ordCols), keyCols,
      ordCols, valueCol, 1, "__dy")
    val d2 = SequentialKernels.diffs(dy, keyCols, ordCols, "__dy", 1, "__d2")
      .filter(col("__d2").isNotNull)
    val fit = SequentialKernels.gridFit(d2, keyCols, ordCols, "__d2", "ma1",
      grid.map(Seq(_)), Seq(SeriesTail.last(col(valueCol).cast("double")).as("y_last"),
        SeriesTail.last(col("__dy")).as("dy_last")))
    winner(fit, keyCols, SequentialKernels.ma1Cols, "d2_neff")
      .select(keyCols.map(col) ++ Seq(col("ma1_theta").as("d2_theta"),
        col("ma1_sse").as("d2_sse"), col("d2_neff"),
        col("ma1_mu").as("d2_mu"), col("ma1_eps_last").as("d2_eps_last"),
        col("y_last"), col("dy_last")): _*)
  }

  /** h-step ARIMA(0,2,1) forecast by double integration over an
    * ALREADY-BUILT [[arima021Full]] table: on the Δ² scale
    * f_1 = r(μ + θ·ε_n) and f_{s≥2} = r(μ) (the MA(1) forecast), then
    * Δŷ_{n+s} = r(Δy_n + Σ_{j≤s} f_j) and
    * ŷ_{n+s} = r(y_n + Σ_{j≤s} Δŷ_{n+j}) — every summand lives on the
    * 4dp grid so the per-step rounding chain is exact in both engines.
    * One row per (series, step), with the winning θ and SSE attached. */
  def arima021ForecastFrom(base: DataFrame, keyCols: Seq[String], h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val steps = SequentialKernels.armaSteps(col("d2_mu"), Nil, Seq(col("d2_theta")), Nil,
      Seq(col("d2_eps_last")), h)
    val wcum = Window.partitionBy(keys: _*).orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    SequentialKernels.stepRows(base,
      keyCols ++ Seq("d2_theta", "d2_sse", "y_last", "dy_last"), steps, "__f2")
      .withColumn("__dhat", r(col("dy_last") + sum(col("__f2")).over(wcum)))
      .withColumn("arima_forecast", r(col("y_last") + sum(col("__dhat")).over(wcum)))
      .select(keys ++ Seq(col("d2_theta"), col("d2_sse"), col("step"),
        col("arima_forecast")): _*)
  }

  /** SARIMA(0,0,1)(0,1,0)_m fit: the MA(1) CLS grid fold run on the
    * lag-m seasonal differences — the seasonal-Q leg of the searched
    * space (pmdarima max_Q; this member is Q = 1, complementing the
    * sari member's seasonal-P side). One row per series with > m
    * observations: sma_theta, sma_sse, sma_neff (the seasonal-diff row
    * count, from the grid fit's own per-series aggregate), sma_mu (the
    * exact micro-int mean of the diffs) and sma_eps_last. */
  def sarima011Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                    valueCol: String, m: Int,
                    grid: Seq[Double] = SequentialKernels.Ma1Grid): DataFrame = {
    require(grid.nonEmpty, "theta grid must be non-empty")
    winner(SequentialKernels.gridFit(seasonalDiffs(df, keyCols, ordCols, valueCol, m),
      keyCols, ordCols, "__sd", "ma1", grid.map(Seq(_))), keyCols, SequentialKernels.ma1Cols,
      "sma_neff")
      .select(keyCols.map(col) ++ Seq(col("ma1_theta").as("sma_theta"),
        col("ma1_sse").as("sma_sse"), col("sma_neff"),
        col("ma1_mu").as("sma_mu"),
        col("ma1_eps_last").as("sma_eps_last")): _*)
  }

  /** A [[SequentialKernels.gridFit]] frame's keys, its winner columns
    * (`cols` of `__best` and `__mu`), every further column it carries,
    * and its fed row count as the double `count`. */
  private def winner(fit: DataFrame, keyCols: Seq[String],
                     cols: (Column, Column) => Seq[Column], count: String): DataFrame = {
    val fitCols = Seq("__best", "__mu", SeriesTail.Count)
    fit.select(keyCols.map(col) ++ cols(col("__best"), col("__mu")) ++
      fit.columns.diff(keyCols ++ fitCols).map(col) :+
      col(SeriesTail.Count).cast("double").as(count): _*)
  }

  /** The lag-m seasonal differences `__sd` of `valueCol`, each series'
    * first m rows dropped. */
  private def seasonalDiffs(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                            valueCol: String, m: Int): DataFrame =
    SequentialKernels.diffs(df, keyCols, ordCols, valueCol, m, "__sd")
      .filter(col("__sd").isNotNull)

  /** SARIMA(1,0,1)(0,1,0)_m fit — the JOINT seasonal member: the
    * ARMA(1,1) CLS (φ, θ) grid fold run on the lag-m seasonal
    * differences, so the seasonal-AR and seasonal-MA legs are fit
    * TOGETHER the way the reference configures pmdarima's seasonal
    * search (`seasonal_order=(1,1,1,period)`,
    * src/models/arima_temporal.py:224 — P and Q jointly, on the
    * seasonally differenced scale; the sari and sma members cover each
    * leg alone). One row per series with > m observations: sarma_phi,
    * sarma_theta, sarma_sse, sarma_nsd (the seasonal-diff row count,
    * from the grid fit's own per-series aggregate; the CLS conditions
    * on the first diff, so n_eff = nsd − 1), sarma_mu (exact micro-int
    * mean of the diffs), sarma_eps_last and sarma_xc_last (the forecast
    * state). */
  def sarma11Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                  valueCol: String, m: Int,
                  phiGrid: Seq[Double] = SequentialKernels.PhiGrid,
                  thetaGrid: Seq[Double] = SequentialKernels.ThetaGrid): DataFrame = {
    require(phiGrid.nonEmpty && thetaGrid.nonEmpty, "grids must be non-empty")
    winner(SequentialKernels.gridFit(seasonalDiffs(df, keyCols, ordCols, valueCol, m),
      keyCols, ordCols, "__sd", "arma11", SequentialKernels.arma11Pairs(phiGrid, thetaGrid)),
      keyCols, SequentialKernels.arma11Cols, "sarma_nsd")
      .select(keyCols.map(col) ++ Seq(col("arma_phi").as("sarma_phi"),
        col("arma_theta").as("sarma_theta"),
        col("arma_sse").as("sarma_sse"), col("sarma_nsd"),
        col("arma_mu").as("sarma_mu"),
        col("arma_eps_last").as("sarma_eps_last"),
        col("arma_xc_last").as("sarma_xc_last")): _*)
  }

  /** h-step SARIMA(1,0,1)(0,1,0)_m forecast over an ALREADY-BUILT
    * [[sarma11Full]] table: the ARMA(1,1) recursion on the
    * seasonal-diff scale —
    *
    *   f_1 = r( μ + φ·(z_n − μ̄) + θ·ε_n )   (z_n − μ̄ = the stored xc)
    *   f_s = r( μ + φ·(f_{s−1} − μ) )        s ≥ 2
    *
    * each step rounded before feeding forward, then seasonally
    * integrated against the observed last season:
    * ŷ_{n+s} = r(y_{n+s−m} + f_s) ([[seasonalBase]]). */
  def sarma11ForecastFrom(base: DataFrame, seasonBase: DataFrame,
                          keyCols: Seq[String], h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val steps = SequentialKernels.armaSteps(col("sarma_mu"), Seq(col("sarma_phi")),
      Seq(col("sarma_theta")), Seq(col("sarma_xc_last")), Seq(col("sarma_eps_last")), h)
    SequentialKernels.stepRows(base, keyCols ++ Seq("sarma_phi", "sarma_theta", "sarma_sse"),
      steps, "__f")
      .join(seasonBase, keyCols :+ "step")
      .withColumn("sarma_forecast", r(col("__base") + col("__f")))
      .select(keys ++ Seq(col("sarma_phi"), col("sarma_theta"),
        col("sarma_sse"), col("step"), col("sarma_forecast")): _*)
  }

  /** The last-season base frame the seasonal integration adds forecasts
    * onto: (keys..., step, `__base` = y_{n−m+step}) for step 1..h —
    * the snaive/sari base convention; needs h ≤ m so every step's base
    * is an OBSERVED value. */
  def seasonalBase(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                   valueCol: String, h: Int, m: Int): DataFrame = {
    require(h >= 1 && h <= m, s"seasonal base needs 1 <= h <= m (got h=$h m=$m)")
    val keys = keyCols.map(col)
    val steps = (1 to h).map(s => struct(lit(s.toLong).as("step"), col(s"__b$s").as("__base")))
    SeriesTail.of(SeriesTail.indexed(df, keyCols, ordCols), keyCols,
      SeriesTail.bases(col(valueCol).cast("double"), lit(m), h))
      .select(keys ++ Seq(col(SeriesTail.Count), explode(array(steps: _*)).as("__e")): _*)
      .filter(col(SeriesTail.Count) >= lit(m + 1) - col("__e.step"))
      .select(keys ++ Seq(col("__e.step").as("step"), col("__e.__base").as("__base")): _*)
  }

  /** h-step SARIMA(0,0,1)(0,1,0)_m forecast over an ALREADY-BUILT
    * [[sarima011Full]] table: on the seasonal-diff scale
    * f_1 = r(μ + θ·ε_n), f_{s≥2} = r(μ) (the MA(1) forecast), then
    * ŷ_{n+s} = r(y_{n+s−m} + f_s) — seasonal integration against the
    * observed last season ([[seasonalBase]]). */
  def sarima011ForecastFrom(base: DataFrame, seasonBase: DataFrame,
                            keyCols: Seq[String], h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val steps = SequentialKernels.armaSteps(col("sma_mu"), Nil, Seq(col("sma_theta")), Nil,
      Seq(col("sma_eps_last")), h)
    SequentialKernels.stepRows(base, keyCols ++ Seq("sma_theta", "sma_sse"), steps, "__f")
      .join(seasonBase, keyCols :+ "step")
      .withColumn("sma_forecast", r(col("__base") + col("__f")))
      .select(keys ++ Seq(col("sma_theta"), col("sma_sse"), col("step"),
        col("sma_forecast")): _*)
  }

  /** Fixed tiebreak order across the sixteen searched members (r16:
    * ma3/ar5 promoted from parked probes to board members — the r15
    * verdict's optional ask #7, closing the 3 ≤ p,q ≤ 5 gap with the
    * grid's cheapest representatives of each leg: the q-side MA(3)
    * CLS fold and the p-side AR(5) Levinson closed form). */
  private val MemberRank: Map[String, Int] = Map(
    "mean_naive" -> 0, "snaive" -> 1, "ar2" -> 2, "ari" -> 3, "ma1" -> 4,
    "arma11" -> 5, "theta" -> 6, "holt_damped" -> 7,
    "arima021" -> 8, "arima211" -> 9, "sari" -> 10, "arima212" -> 11,
    "sma" -> 12, "sarma" -> 13, "ma3" -> 14, "ar5" -> 15)

  /** One member's score rows (keys..., model, k, sse, n_eff, aic), the
    * AIC in the family's form ([[Champion.aic]]). */
  private def scored(t: DataFrame, keyCols: Seq[String], model: String, k: Double,
                     sse: Column, neff: Column): DataFrame =
    t.select(keyCols.map(col) ++ Seq(lit(model).as("model"), lit(k).as("k"),
      sse.as("sse"), neff.as("n_eff"), Champion.aic(sse, neff, lit(k)).as("aic")): _*)

  /** One member's forecast rows (keys..., model, step, forecast). */
  private def forecasts(t: DataFrame, keyCols: Seq[String], model: String,
                        forecast: String): DataFrame =
    t.select(keyCols.map(col) ++ Seq(lit(model).as("model"), col("step"),
      col(forecast).as("forecast")): _*)

  /** MA(3) + AR(5) member (score, forecast) rows over already-built fit
    * tables ([[SequentialKernels.fitMa3Full]] /
    * [[graft.seq.YuleWalker.ar5Full]] — the q311/q313 probes' shared
    * state, fit once per session): ma3 follows the family's MA(q)
    * conventions (n_eff = series length, the CLS recursion conditions
    * nothing; k = θ₁+θ₂+θ₃+μ = 4; entry gate n ≥ 4 = k, the ma1 n ≥ k
    * rule); ar5 scores its lag-5-conditioned SSE over yw_neff = n − 5
    * rows (k = φ₁..φ₅+μ = 6; the fit table itself gates n_eff ≥ 3).
    * Same schemas as every member — widen a board with [[widen]]. */
  def wideMembersFrom(ma3Full: DataFrame, ar5Full: DataFrame,
                      df: DataFrame, keyCols: Seq[String],
                      valueCol: String, h: Int): (DataFrame, DataFrame) = {
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(col(valueCol)).as("__n"))
    val ma3Score = scored(ma3Full.join(counts, keyCols).filter(col("__n") >= 4),
      keyCols, "ma3", 4.0, col("ma3_sse"), col("__n").cast("double"))
    val ar5Score = scored(ar5Full.filter(col("yw_neff") >= 1),
      keyCols, "ar5", 6.0, col("yw_sse"), col("yw_neff").cast("double"))
    val ma3Fc = forecasts(SequentialKernels.ma3ForecastFrom(ma3Full, keyCols, h),
      keyCols, "ma3", "ma3_forecast")
    val ar5Fc = forecasts(YuleWalker.ar5ForecastFrom(ar5Full, keyCols, h),
      keyCols, "ar5", "forecast")
    (ma3Score.unionByName(ar5Score), ma3Fc.unionByName(ar5Fc))
  }

  /** The three grid-fit bases the extended members rank and forecast
    * from, fit ONCE and localCheckpointed (series-grain tiny): the
    * [[arima021Full]] table on Δ², the [[SequentialKernels
    * .fitArma21Full]] and [[SequentialKernels.fitArma22Full]] tables
    * on Δ, and the last-observed-level frame (keys..., `__yn`) the
    * integrations need. Exposed so a sweep registering q297/q298/q307
    * AND the extended scoreboard pays each fold exactly once (the
    * championShared memo discipline). */
  def extFitBases(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                  valueCol: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val d2base = arima021Full(df, keyCols, ordCols, valueCol).localCheckpoint(true)
    val diffed = SequentialKernels.diffs(df, keyCols, ordCols, valueCol, 1, "__dy")
      .filter(col("__dy").isNotNull)
    val lastLevel = SeriesTail.of(SeriesTail.indexed(df, keyCols, ordCols), keyCols,
      Seq(SeriesTail.last(col(valueCol).cast("double")).as("__yn")))
      .select(keyCols.map(col) :+ col("__yn"): _*).localCheckpoint(true)
    val a21base = SequentialKernels.fitArma21Full(diffed, keyCols, ordCols, "__dy")
      .localCheckpoint(true)
    val a22base = SequentialKernels.fitArma22Full(diffed, keyCols, ordCols, "__dy")
      .localCheckpoint(true)
    (d2base, a21base, a22base, lastLevel)
  }

  /** The fourteen-member extended order search: the Champion family's
    * scoreboard and forecast union (the [[Champion.pickBlendScoreFcs]]
    * frames, so the family fits once) widened with the (0,2,1),
    * (2,1,1), (2,1,2), sari, sma and sarma members. The member fits
    * come in ALREADY BUILT — the [[extFitBases]] frames, the
    * [[sarima011Full]] and [[sarma11Full]] tables over `df` — so the
    * score rows and forecast recursions read materialized fits; only
    * the sari member (cheap closed-form aggregates, no fold) computes
    * from `df` here.
    *
    * Each member scores only where identified ((0,2,1) ≥ 2 Δ²
    * residuals, (2,1,1)/(2,1,2) ≥ 2 conditioned diff residuals, sari ≥
    * 3 seasonal-diff regression rows, sma ≥ 2 and sarma ≥ 3
    * seasonal-diff rows) — each strictly tighter than its forecaster's
    * support, so every scored member forecasts and the winner join
    * ([[pickFrom]]) never drops a series. Returns (board, fcs) as
    * [[widen]] does. */
  def extendedFrom(familyBoard: DataFrame, familyFcs: DataFrame,
                   d2base: DataFrame, a21base: DataFrame, a22base: DataFrame,
                   lastLevel: DataFrame, smaBase: DataFrame, sarmaBase: DataFrame,
                   df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                   valueCol: String, h: Int = 4, m: Int = 13): (DataFrame, DataFrame) = {
    val d2Score = scored(d2base.filter(col("d2_neff") >= 2), keyCols,
      "arima021", 2.0, col("d2_sse"), col("d2_neff"))
    val d2Fc = forecasts(arima021ForecastFrom(d2base, keyCols, h), keyCols,
      "arima021", "arima_forecast")
    val a21Score = scored(a21base.filter(col("arma2_neff") >= 2), keyCols,
      "arima211", 4.0, col("arma2_sse"), col("arma2_neff"))
    val a21Fc = forecasts(SequentialKernels.arima211ForecastFrom(a21base, lastLevel,
      keyCols, h), keyCols, "arima211", "arima_forecast")
    val a22Score = scored(a22base.filter(col("arma22_neff") >= 2), keyCols,
      "arima212", 5.0, col("arma22_sse"), col("arma22_neff"))
    val a22Fc = forecasts(SequentialKernels.arima212ForecastFrom(a22base, lastLevel,
      keyCols, h), keyCols, "arima212", "arima_forecast")
    // ---- sari — SARIMA(2,0,0)(0,1,0)_m: AR(2) on the lag-m SEASONAL
    // differences (the Ar.forecastSeasonalIntegrated / q254 fit),
    // scored exactly like the family's ari member (k = 3, n_eff the
    // regression-row count, ≥ 3 to be identified) — the seasonal-D leg
    // of the reference's search space (pmdarima max_D = 1)
    val sariScore = scored(Ar.seasonalState(df, keyCols, ordCols, valueCol, m, h)
      .filter(col("__nfit") >= 3), keyCols, "sari", 3.0, r(col("__ss")),
      col("__nfit").cast("double"))
    val sariFc = forecasts(Ar.forecastSeasonalIntegrated(df, keyCols, ordCols,
      valueCol, m, h), keyCols, "sari", "sari_forecast")
    // ---- sma — SARIMA(0,0,1)(0,1,0)_m: MA(1) on the lag-m seasonal
    // differences (the seasonal-Q leg; k = θ + μ = 2, ≥ 2 diff rows)
    val smaScore = scored(smaBase.filter(col("sma_neff") >= 2), keyCols,
      "sma", 2.0, col("sma_sse"), col("sma_neff"))
    val seasonBase = seasonalBase(df, keyCols, ordCols, valueCol, h, m)
    val smaFc = forecasts(sarima011ForecastFrom(smaBase, seasonBase, keyCols, h),
      keyCols, "sma", "sma_forecast")
    // ---- sarma — SARIMA(1,0,1)(0,1,0)_m: the JOINT seasonal member,
    // ARMA(1,1) on the lag-m seasonal differences (P and Q legs fit
    // together, the reference's seasonal_order=(1,1,1,m) shape;
    // k = φ + θ + μ = 3; the CLS conditions on the first diff row, so
    // n_eff = nsd − 1 and identification needs nsd ≥ 3, the family
    // arma11 gate on the seasonal scale)
    val sarmaScore = scored(sarmaBase.filter(col("sarma_nsd") >= 3), keyCols,
      "sarma", 3.0, col("sarma_sse"), col("sarma_nsd") - 1)
    val sarmaFc = forecasts(sarma11ForecastFrom(sarmaBase, seasonBase, keyCols, h),
      keyCols, "sarma", "sarma_forecast")
    widen(familyBoard, familyFcs,
      d2Score.unionByName(a21Score).unionByName(a22Score).unionByName(sariScore)
        .unionByName(smaScore).unionByName(sarmaScore),
      d2Fc.unionByName(a21Fc).unionByName(a22Fc).unionByName(sariFc)
        .unionByName(smaFc).unionByName(sarmaFc),
      keyCols)
  }

  /** A searched board widened by member rows: `board` (keys..., model,
    * k, sse, n_eff, aic; its rank ignored) unioned with the members'
    * `scores` and re-ranked by (aic, member order), and `fcs` (keys...,
    * model, step, forecast) unioned with their forecast rows. Returns
    * (board, fcs) — the same schemas, so [[pickFrom]] and
    * [[Champion.blendFrom]] read any width of search, and diagnostics
    * consumers swap in the wider board unchanged. */
  def widen(board: DataFrame, fcs: DataFrame, scores: DataFrame,
            memberFcs: DataFrame, keyCols: Seq[String]): (DataFrame, DataFrame) = {
    val keys = keyCols.map(col)
    val scoreCols = keys ++ Seq(col("model"), col("k"), col("sse"), col("n_eff"),
      col("aic"))
    val fcCols = keys ++ Seq(col("model"), col("step"), col("forecast"))
    val mrank = MemberRank.foldLeft(lit(99)) { case (acc, (name, rk)) =>
      when(col("model") === name, rk).otherwise(acc)
    }
    val wRank = Window.partitionBy(keys: _*).orderBy(col("aic"), col("__mrank"))
    (board.select(scoreCols: _*).unionByName(scores.select(scoreCols: _*))
      .withColumn("__mrank", mrank)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .select(scoreCols :+ col("rank"): _*),
      fcs.select(fcCols: _*).unionByName(memberFcs.select(fcCols: _*)))
  }

  /** Winner-join tail: rank-1 per series joined against a forecast
    * union (keys..., model, step, forecast). Output: keys...,
    * champion, aic, step, forecast. */
  def pickFrom(board: DataFrame, fcs: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    board.filter(col("rank") === 1)
      .select(keys ++ Seq(col("model"), col("aic")): _*)
      .join(fcs.select(keys ++ Seq(col("model"), col("step"),
        col("forecast")): _*), keyCols :+ "model")
      .select(keys ++ Seq(col("model").as("champion"), col("aic"),
        col("step"), col("forecast")): _*)
  }
}
