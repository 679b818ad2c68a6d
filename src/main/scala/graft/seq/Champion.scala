package graft.seq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs.{microMeanOver, r}

/** Per-series model selection — the engine-side equivalent of the
  * reference's auto-ARIMA champion pick
  * (src/models/arima_temporal.py:277-361: stepwise order search scored
  * by AIC at :322/:355, the winner forecasts). The full stepwise
  * pmdarima search is ML-layer; the engine-expressible core is exactly
  * what the reference's scorer consumes: an in-sample fit score per
  * candidate model, an argmin per series, and the winner's h-step
  * forecast. Every candidate here is one of the already-closed-form
  * family members, so the whole selection is a composition of existing
  * single-exchange kernels:
  *
  *   member        k  in-sample one-step fit            forecaster
  *   ------------  -  --------------------------------  -------------------
  *   mean_naive    1  x̂_t = μ (exact micro-int mean)    f_s = μ
  *   snaive        0  x̂_t = x_{t−m}                     f_s = x_{n+s−m}
  *   ar2           3  Ar.fitted (OLS, Cramer)           Ar.forecast
  *   ari           3  x̂_t = x_{t−1} + ÂR(Δx)_t          Ar.forecastIntegrated
  *   ma1           2  CLS grid innovation filter        μ + θ·ε_n then flat
  *   arma11        3  CLS (φ,θ) grid filter             ARMA recursion
  *   theta         2  x̂_t = fitted_{t−1} + b/2          Theta.forecast
  *   holt_damped   2  x̂_t = l_{t−1} + φ_d·b_{t−1}       l_n + b_n·Σφ_dⁱ
  *
  * Scoring follows the verdict-specified closed form
  * AIC = n_eff·ln(SSE/n_eff) + 2k with a LITERAL k per member (the
  * parameter counts above) and n_eff the member's own residual count —
  * each member is scored on the one-step-ahead scale it predicts.
  * SSE accumulates by the house exact convention (squares rounded to
  * the 1e-8 grid, summed in decimal(38,0) — partial-aggregation-order
  * independent, the Ar.forecastIntervals σ² recipe) for the
  * aggregate-fit members; the MA/ARMA members reuse the SSE their own
  * sequential fold emits (identical IEEE chain cross-engine). The AIC
  * is rounded to the 1e-4 grid before the argmin, and ties break to
  * the fixed member order above, so the pick is deterministic in both
  * engines (a cross-engine ln() may differ in the last ulp; on the 4dp
  * grid that difference is dead except on an exact .00005 knife edge).
  *
  * A member enters a series' scoreboard only when its fit is genuinely
  * identified there, which also guarantees the winner's forecaster
  * emits rows. Each member's `scored` / aic condition fixes the
  * shortest series n it can ever score:
  *
  *   member        min n  why
  *   ------------  -----  ------------------------------------------
  *   mean_naive    1      always scored
  *   snaive        m + 1  ≥ 1 lag-m residual
  *   ar2           5      ≥ 3 regression rows (n − 2)
  *   ari           6      ≥ 3 diff-regression rows (n − 3)
  *   ma1           2      n ≥ 2
  *   arma11        3      n ≥ 3
  *   theta         2      ≥ 1 honest one-step prediction
  *   holt_damped   3      ≥ 1 residual once the trend exists (t ≥ 3)
  *
  * Series of length 1 still forecast: the mean member is always
  * eligible — the reference's fallback-to-simple behavior
  * (arima_temporal.py error_action='ignore' degrades to the simplest
  * candidate, and a candidate it cannot identify is skipped).
  *
  * Pruning: the one-plan consumers (championForecast, blendForecast,
  * scoreboard) feed each member's per-row sums and kernels only the
  * series at least its member's minimum long (NULL inputs elsewhere),
  * and build each member's row only on those series. A pruned row could
  * never score, so every scored row, rank, Akaike weight and forecast is
  * unchanged; on short-history data (most retail series hold one or two
  * weeks) the costly per-series kernels then run over a small fraction
  * of the series. The materialized member table ([[pickBlendScoreFcs]])
  * is not pruned: its forecast union shows unscored members' rows.
  *
  * Execution shape: ONE pass over the series, with no checkpoint, no
  * per-member exchange, no join and no union. Four window passes, all
  * `partitionBy(keys).orderBy(ord)`, carry every per-row state: the row
  * number, the series length, x's lags, the exact mean and Holt's
  * running state and lags; the ar2 and ari coefficients
  * ([[Ar.fitSums]], ari from x's own lags) and Theta's trend
  * ([[Theta.trendSums]]) as unbounded-window exact sums; Theta's SES
  * and the lag of its fitted value. Windows
  * that share a partitioning and an order run in one sort of one
  * exchange, and an input already hash-partitioned on a subset of the
  * keys (the ETL's `l_partkey` exchange) needs none. One
  * `groupBy(keys)` aggregate on that same partitioning then yields each
  * member's SSE and residual count, the last row's state, snaive's
  * season bases and the packed cells of the two grid fits
  * ([[graft.expr.GridFitExpr]], each in its own projection so it runs
  * once per series). One projection builds the eight member rows, which
  * explode into the member table (at most #series × 8 rows), and every
  * consumer is one tail over it: a key-partitioned window (argmin, AIC
  * minimum or rank) plus an explode of the forecast arrays, with no
  * join or exchange keyed on the member. The plan thus holds each
  * member kernel exactly once (ChampionSpec pins that). A member that
  * does not score a series (too short to identify it) has a NULL aic
  * there but may still forecast, e.g. snaive's partial season; only
  * [[pickBlendScoreFcs]]'s forecast union shows those rows, so its
  * table feeds every member every series. Scales in the series count,
  * never materializes a per-group vector beyond the grid fits' packed
  * cells. Under `arrayFits=false` (the scale fallback) the two grid
  * members stream their series through the same kernel
  * ([[SequentialKernels.fitMa1Full]], [[SequentialKernels.fitArma11Full]])
  * and join on the series key to the per-series aggregate.
  *
  * `valueCol` must be non-null. ChampionSpec pins every consumer row
  * for row against the replaced two-pipeline form.
  */
object Champion {

  /** Exact SSE of a 4dp-grid residual column: square → 1e-8 grid →
    * guarded exact-long sum → one division back (Ar.forecastIntervals
    * σ² convention), rounded at emit. NULL residuals are skipped. */
  private def sqSum(resid: Column): Column =
    r(graft.functions.Funcs.microSumSq(resid))

  /** AIC = n_eff·ln(max(SSE, 1e-8)/n_eff) + 2k on the 4dp grid — the
    * one score form every searched member is ranked by. */
  private[seq] def aic(sse: Column, neff: Column, k: Column): Column =
    r(neff * log(greatest(sse, lit(1e-8)) / neff) + lit(2.0) * k)

  /** Forecast array literal: element s is (step = s, forecast = fs(s−1)). */
  private def steps(fs: Seq[Column]): Column =
    array(fs.zipWithIndex.map { case (f, i) =>
      struct(lit(i + 1L).as("step"), f.as("forecast"))
    }: _*)

  /** The shortest series each member can score (object scaladoc table),
    * by member name, for seasonal period `m`. */
  private[graft] def minLength(m: Int): Map[String, Int] = Map(
    "mean_naive" -> 1, "snaive" -> (m + 1), "ar2" -> 5, "ari" -> 6,
    "ma1" -> 2, "arma11" -> 3, "theta" -> 2, "holt_damped" -> 3)

  /** The series-length column: a window count on every row of the
    * series pass, read by the member guards and carried to the series'
    * row. */
  private[graft] val LenCol = "__slen"

  /** The member table: one row per (series, member) with keys...,
    * model, __mrank, __k, sse, neff, aic (NULL where the member does not
    * score the series) and __fc, the member's forecasts as an
    * array<struct<step, forecast>> (NULL where it does not forecast).
    * With `prune`, each member's sums and kernels see only series at
    * least its [[minLength]] long and no member row is built below the
    * member's minimum, so the table holds no row a member could not
    * score. See the object scaladoc for the shape. */
  private def memberTable(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                          valueCol: String, h: Int, m: Int,
                          alpha: Double, beta: Double, damp: Double,
                          prune: Boolean): DataFrame = {
    require(h >= 1 && h <= m, "horizon must lie in [1, m]")
    val keys = keyCols.map(col)
    val x = col(valueCol).cast("double")
    val wAsc = Window.partitionBy(keys: _*).orderBy(ordCols: _*)
    val wAll = wAsc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val minLen = minLength(m)
    val Seq(rn, n, mu, l1, l2, l3, t) =
      Seq("__rn", LenCol, "__mu", "__l1", "__l2", "__l3", "__t").map(col)
    // ari's first differences and their lags, from x's own lags
    val (d, dl1, dl2) = (x - l1, l1 - l2, l2 - l3)
    /** `c` where the named member can score the series when pruning
      * (NULL on shorter series), else `c`. */
    def fed(name: String)(c: Column): Column =
      if (prune && minLen(name) > 1) when(n >= minLen(name), c) else c
    val (line, z) = Theta.line(t, col(valueCol))

    // ---- per-row state in four window passes over one series
    // partitioning and order, so one sort of one exchange. Theta's fit
    // and each Cramer solve follow passes of their own: Spark generates
    // the projections between two passes (and the next pass's inputs)
    // as one method, and a method past the JIT's 8,000-byte limit runs
    // interpreted
    val src = df.filter(keys.map(_.isNotNull).reduce(_ && _))
    val rows = src
      // 1: index, length, exact mean, x's lags, Holt's running state
      .select(col("*"), row_number().over(wAsc).as("__rn"),
        count(lit(1)).over(wAll).as(LenCol), microMeanOver(x, wAll).as("__mu"),
        lag(x, 1).over(wAsc).as("__l1"), lag(x, 2).over(wAsc).as("__l2"),
        lag(x, 3).over(wAsc).as("__l3"), lag(x, m).over(wAsc).as("__lm"),
        SequentialKernels.holtState(keyCols, ordCols, valueCol, alpha, beta).as("__holt"))
      .withColumn("__t", rn.cast("double"))
      // 2: Holt's lags; theta's trend sums and the ari sums
      .select(Seq(col("*"), lag(col("__holt.level"), 1).over(wAsc).as("__pl"),
        lag(col("__holt.trend"), 1).over(wAsc).as("__pt")) ++
        Theta.trendSums(fed("theta")(t), fed("theta")(col(valueCol)), wAll) ++
        Ar.fitSums(keyCols, ordCols, d, dl1, fed("ari")(dl2), "ari_"): _*)
      .select(col("*") +: Theta.trendCoefs: _*)
      .select(col("*"), line.as("__line"), z.as("__z"))
      // 3: Theta's SES; the ar2 sums
      .select(Seq(col("*"),
        graft.expr.EwmaExpr.over(col("__z"), alpha, keys, ordCols).as("__ses")) ++
        Ar.fitSums(keyCols, ordCols, x, l1, fed("ar2")(l2), "ar_"): _*)
      .select(col("*") +: Ar.fitCoefs("ar_"): _*)
      .withColumn("__thf", Theta.fittedOf(col("__line"), col("__ses")))
      // 4: the lag of Theta's fitted value
      .withColumn("__pf", lag(col("__thf"), 1).over(wAsc))
      .select(col("*") +: Ar.fitCoefs("ari_"): _*)

    // ---- one aggregate per series: every member's SSE and residual
    // count, the last row's state (ar2's and ari's recursions start from
    // the last two levels and differences, theta extends from the last
    // index and SES level, holt from the last (level, trend)), snaive's
    // season bases (step s reads row n − m + s) and, for the grid fits,
    // the packed cells
    val arFit = Ar.fittedOf(l1, l2, "ar_")
    val ariFit = Ar.fittedOf(dl1, dl2, "ari_")
    // theta's honest one-step prediction (the reference's fittedvalues
    // convention — no peek at x_t): from ŷ_t = ½·l_t + ½·ses_{t−1} and
    // ses_{t−1} = 2·fitted_{t−1} − l_{t−1}, it is fitted_{t−1} + b/2
    val thPrev = col("__pf")
    // holt_damped: x̂_t = l_{t−1} + φ_d·b_{t−1}, defined once the trend
    // exists (t ≥ 3)
    val (pl, pt) = (col("__pl"), col("__pt"))
    def neff(fit: Column) = count(fit).cast("double")
    val last = struct(Seq(n, mu, x.as("__xn"), l1.as("__xn1"), d.as("__dn"), dl1.as("__dn1"),
      col("ar_c"), col("ar_phi1"), col("ar_phi2"), col("ari_c"), col("ari_phi1"),
      col("ari_phi2"), col("theta_a"), col("theta_b"), t.as("__tn"), col("__ses").as("__sesn"),
      col("__holt.level").as("__ln"), col("__holt.trend").as("__bn")): _*)
    val grids = SequentialKernels.arrayFits(df)
    val perSeries = rows.groupBy(keys: _*).agg(max(when(rn === n, last)).as("__last"),
      (1 to h).map(s => max(when(rn === n - m + s, x)).as(s"__b$s")) ++ Seq(
        sqSum(x - r(mu)).as("mean_sse"),
        sqSum(x - col("__lm")).as("sn_sse"), neff(col("__lm")).as("sn_neff"),
        sqSum(x - arFit).as("ar_sse"), neff(arFit).as("ar_neff"),
        // ari scores on the diff scale: x_t − (x_{t−1} + d̂_t) = Δx_t − d̂_t
        sqSum(d - ariFit).as("ari_sse"), neff(ariFit).as("ari_neff"),
        sqSum(x - r(thPrev + col("theta_b") / 2)).as("th_sse"), neff(thPrev).as("th_neff"),
        sqSum(x - r(pl + lit(damp) * pt)).as("ho_sse"), neff(pt).as("ho_neff")) ++
        // the grid kernels' shortest member (ma1) bounds the cells kept
        (if (grids) Seq(SequentialKernels.cellsOf(ordCols, valueCol, fed("ma1"))
          .as("__cells")) else Nil): _*)
      .select(col("*"), col("__last.*")).drop("__last")

    // ---- the grid fits, one kernel call per series (guarded by the
    // member's minimum when pruning); the arrayFits=false fallback joins
    // the streaming folds on the key
    val fits = if (grids)
      perSeries
        .withColumn("__ma1", fed("ma1")(
          SequentialKernels.ma1Winner(col("__cells"), mu, ordCols.size)))
        .withColumn("__arma", fed("arma11")(
          SequentialKernels.arma11Winner(col("__cells"), mu, ordCols.size)))
        .select(Seq(col("*")) ++ SequentialKernels.ma1Cols(col("__ma1"), mu) ++
          SequentialKernels.arma11Cols(col("__arma"), mu): _*)
        .drop("__cells", "__ma1", "__arma")
    else
      perSeries
        .join(SequentialKernels.fitMa1Full(src, keyCols, ordCols, valueCol), keyCols)
        .join(SequentialKernels.fitArma11Full(src, keyCols, ordCols, valueCol), keyCols)

    // ---- one projection: the eight member rows, exploded; pruning
    // leaves out each member row below the member's minimum
    def member(name: String, rank: Int, k: Int, scored: Column, sse: Column,
               neff: Column, fc: Column): Column =
      fed(name)(struct(lit(name).as("model"), lit(rank).as("__mrank"),
        lit(k.toDouble).as("__k"), when(scored, sse).as("sse"),
        when(scored, neff).as("neff"), fc.as("__fc")))
    val (arNeff, ariNeff) = (col("ar_neff"), col("ari_neff"))
    // snaive: step s exists where its base row n − m + s does (a series
    // shorter than a season forecasts the steps whose base is observed)
    val snFc = slice(steps((1 to h).map(s => r(col(s"__b$s")))),
      greatest(lit(m + 1) - n, lit(1L)).cast("int"), lit(h))
    // ari integrates the diff steps from the last level as a left fold
    // (0 + d̂_1, then + d̂_s), the order a running sum adds in
    val ariCum = Ar.forecastSteps(col("ari_c"), col("ari_phi1"), col("ari_phi2"),
      col("__dn"), col("__dn1"), h).scanLeft(lit(0.0))(_ + _).tail
    val members = Seq(
      member("mean_naive", 0, 1, lit(true), col("mean_sse"), n.cast("double"),
        steps(Seq.fill(h)(r(mu)))),
      member("snaive", 1, 0, lit(true), col("sn_sse"), col("sn_neff"),
        when(size(snFc) > 0, snFc)),
      member("ar2", 2, 3, arNeff >= 3, col("ar_sse"), arNeff,
        when(arNeff >= 1 && col("__xn1").isNotNull,
          steps(Ar.forecastSteps(col("ar_c"), col("ar_phi1"), col("ar_phi2"),
            col("__xn"), col("__xn1"), h)))),
      member("ari", 3, 3, ariNeff >= 3, col("ari_sse"), ariNeff,
        when(ariNeff >= 1, steps(ariCum.map(c => r(col("__xn") + c))))),
      // ma1: forecast μ + θ·ε_n then flat
      member("ma1", 4, 2, n >= 2, col("ma1_sse"), n.cast("double"),
        steps(SequentialKernels.armaSteps(col("ma1_mu"), Nil, Seq(col("ma1_theta")), Nil,
          Seq(col("ma1_eps_last")), h))),
      // arma11: the (φ,θ) fit's SSE is conditioned on t ≥ 2
      member("arma11", 5, 3, n >= 3, col("arma_sse"), (n - 1).cast("double"),
        steps(SequentialKernels.armaSteps(col("arma_mu"), Seq(col("arma_phi")),
          Seq(col("arma_theta")), Seq(col("arma_xc_last")), Seq(col("arma_eps_last")), h))),
      // theta: the trend extends from the last index, the last SES
      // level carries flat
      member("theta", 6, 2, lit(true), col("th_sse"), col("th_neff"),
        steps((1 to h).map(s => Theta.forecastStep(col("theta_a"), col("theta_b"),
          col("__tn"), col("__sesn"), s)))),
      // holt_damped: damped extrapolation from the last rounded
      // (level, trend)
      member("holt_damped", 7, 2, lit(true), col("ho_sse"), col("ho_neff"),
        when(col("__bn").isNotNull, steps(SequentialKernels.dampedSteps(
          r(col("__ln")), r(col("__bn")), damp, h)))))
    val exploded = fits.select(keys :+ explode(array(members: _*)).as("__m"): _*)
    (if (prune) exploded.filter(col("__m").isNotNull) else exploded)
      .select(keys ++ Seq("model", "__mrank", "__k", "sse", "neff", "__fc")
        .map(f => col(s"__m.$f").as(f)): _*)
      .withColumn("aic", when(col("sse").isNotNull && col("neff") >= 1,
        aic(col("sse"), col("neff"), col("__k"))))
  }

  /** Series window in pick order: (aic, member order) with the unscored
    * rows last; consumers test `aic IS NOT NULL` above it. */
  private def pickOrder(keyCols: Seq[String]) =
    Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("aic").asc_nulls_last, col("__mrank"))

  /** `cols` of a member table with its forecast arrays exploded to
    * (…, step, forecast) rows. */
  private def exploded(t: DataFrame, cols: Seq[Column]): DataFrame =
    t.select(cols :+ explode(col("__fc")).as("__e"): _*)
      .withColumn("step", col("__e.step"))
      .withColumn("forecast", col("__e.forecast"))
      .drop("__e")

  /** One row per (series, step) with the champion member's id, its
    * rounded AIC and its h-step forecast. Output columns:
    * keys..., champion, aic, step, forecast. `ord` must be unique per
    * key; `h` must not exceed the seasonal period `m` (so every snaive
    * forecast base is observed). */
  def championForecast(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                       valueCol: String, h: Int = 4, m: Int = 13,
                       alpha: Double = 0.3, beta: Double = 0.1,
                       damp: Double = 0.9): DataFrame =
    pickFrom(memberTable(df, keyCols, ordCols, valueCol, h, m, alpha, beta, damp,
      prune = true), keyCols)

  /** Argmin tail: the (aic, member order)-first scored row per series,
    * its forecast array exploded. */
  private def pickFrom(t: DataFrame, keyCols: Seq[String]): DataFrame =
    exploded(t.withColumn("__rk", row_number().over(pickOrder(keyCols)))
      .filter(col("__rk") === 1 && col("aic").isNotNull),
      keyCols.map(col) ++ Seq(col("model").as("champion"), col("aic")))

  /** The full order-search TRACE — what the reference's stepwise
    * auto-ARIMA loop logs per candidate order
    * (src/models/arima_temporal.py:277-361: each tried (p,d,q) with its
    * AIC, then the argmin): every identified family member's parameter
    * count, exact SSE, effective n, rounded AIC and its deterministic
    * rank within the series (rank 1 = the champion q259 forecasts).
    * Exposes the member scoreboard that championForecast argmins over,
    * so model-selection diagnostics (AIC gaps, near-ties, member
    * eligibility) are queryable rather than implicit. */
  def scoreboard(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                 valueCol: String, h: Int = 4, m: Int = 13,
                 alpha: Double = 0.3, beta: Double = 0.1,
                 damp: Double = 0.9): DataFrame =
    scoreboardFrom(memberTable(df, keyCols, ordCols, valueCol, h, m, alpha, beta,
      damp, prune = true), keyCols)

  /** All four consumers from ONE member-table execution — champion
    * pick, Akaike blend, the order-search scoreboard (the q286 trace)
    * and the member FORECAST union (keys..., model, step, forecast) —
    * for multi-consumer jobs like the walk-forward backtest, which would
    * otherwise fit the family once per consumer, and for an extended
    * search ([[OrderSearch.extendedFrom]]), which widens the board and
    * union without re-fitting the family. The member table is
    * localCheckpointed ONCE (series-grain: #series × 8 rows) and all
    * four frames are tails over that one checkpoint, so the eight
    * member fits run once however many frames are consumed. The
    * single-query paths (championForecast / blendForecast / scoreboard)
    * run the member table inside their one plan and materialize nothing.
    *
    * This table is NOT pruned: the forecast union is the one frame that
    * shows members which do not score a series (ma1, arma11 and theta
    * forecasts on series too short for them, snaive's partial season),
    * and ChampionSpec pins it row for row with those rows in it. */
  def pickBlendScoreFcs(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                        valueCol: String, h: Int = 4, m: Int = 13,
                        alpha: Double = 0.3, beta: Double = 0.1,
                        damp: Double = 0.9): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val t = memberTable(df, keyCols, ordCols, valueCol, h, m, alpha, beta, damp,
      prune = false).localCheckpoint(true)
    val keys = keyCols.map(col)
    (pickFrom(t, keyCols), blendFromTable(t, keyCols), scoreboardFrom(t, keyCols),
      exploded(t, keys :+ col("model")))
  }

  /** Scoreboard tail: the scored rows ranked by (aic, member order). */
  private def scoreboardFrom(t: DataFrame, keyCols: Seq[String]): DataFrame =
    t.withColumn("rank", row_number().over(pickOrder(keyCols)).cast("long"))
      .filter(col("aic").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("model"), col("__k").as("k"), col("sse"),
        col("neff").as("n_eff"), col("aic"), col("rank")): _*)

  /** Akaike-weight model averaging — the combination twin of the
    * argmin pick (Burnham & Anderson: w_i ∝ exp(−Δ_i/2) with
    * Δ_i = AIC_i − AIC_min). Every scored member contributes its
    * forecast, weighted by its evidence ratio; a single dominant
    * member (Δ ≫ 0 for the rest) collapses to the champion, while
    * near-ties average instead of knife-edge flipping — the usual
    * practical argument for averaging over selection.
    *
    * Determinism: Δ is a difference of 4dp-grid AICs (identical IEEE
    * operands cross-engine), each weight rounds to the 4dp grid after
    * exp() (same knife-edge ulp class as the AIC's ln(), documented
    * there), and the blend is a ratio of exact micro-int sums
    * Σ w·f / Σ w — no normalization step, so no order-dependent
    * double accumulation anywhere. Output: keys..., step,
    * blend_forecast, n_members. */
  def blendForecast(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                    valueCol: String, h: Int = 4, m: Int = 13,
                    alpha: Double = 0.3, beta: Double = 0.1,
                    damp: Double = 0.9): DataFrame =
    blendFromTable(memberTable(df, keyCols, ordCols, valueCol, h, m, alpha, beta,
      damp, prune = true), keyCols)

  /** Akaike weight r(exp((AIC_min − AIC)/2)) of each scored row, AIC_min
    * a window minimum over the series (a groupBy + join-back would
    * consume the scores twice); unscored rows drop after the window. */
  private def weighted(scores: DataFrame, keyCols: Seq[String]): DataFrame =
    scores
      .withColumn("__amin", min(col("aic")).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("aic").isNotNull)
      .withColumn("__w", r(exp((col("__amin") - col("aic")) / 2)))

  /** Akaike-weight tail over a member table: weights, exploded forecasts,
    * and the (series, step) average — all on the window's series-key
    * partitioning. */
  private def blendFromTable(t: DataFrame, keyCols: Seq[String]): DataFrame =
    blendAgg(exploded(weighted(t, keyCols),
      keyCols.map(col) :+ col("__w")), keyCols)

  /** Akaike-weight tail over a long-form scoreboard (keys..., model,
    * aic) and forecast union (keys..., model, step, forecast) — e.g. the
    * extended order search's (board, fcs) from [[OrderSearch.widen]].
    * Output as [[blendForecast]]: keys..., step, blend_forecast,
    * n_members. */
  def blendFrom(board: DataFrame, fcs: DataFrame,
                             keyCols: Seq[String]): DataFrame = {
    val wts = weighted(board, keyCols)
      .select(keyCols.map(col) ++ Seq(col("model"), col("__w")): _*)
    blendAgg(fcs.join(wts, keyCols :+ "model"), keyCols)
  }

  /** Σ w·f / Σ w per (series, step) as exact micro-int sums, with the
    * member count. */
  private def blendAgg(wf: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val wL = graft.expr.RoundHalfUpExpr.column(col("__w") * lit(1e4)).cast("long")
    val fL = graft.expr.RoundHalfUpExpr.column(col("forecast") * lit(1e4)).cast("long")
    wf.groupBy(keys :+ col("step"): _*)
      .agg((sum(wL * fL).cast("double") / lit(1e8)).as("__num"),
        (sum(wL).cast("double") / lit(1e4)).as("__den"),
        count(lit(1)).as("n_members"))
      .select(keys ++ Seq(col("step"),
        r(col("__num") / col("__den")).as("blend_forecast"),
        col("n_members")): _*)
  }
}
