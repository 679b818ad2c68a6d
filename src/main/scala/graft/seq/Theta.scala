package graft.seq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.Funcs.r

/** The Theta method (Assimakopoulos & Nikolopoulos; the M3-competition
  * winner), classic θ = (0, 2) form, per series:
  *
  *   trend line   l_t = a + b·t           (closed-form per-series OLS)
  *   theta2 line  z_t = 2·x_t − l_t      (curvature doubled)
  *   SES          s_t = α·z_t + (1−α)·s_{t−1}
  *   fitted       ŷ_t = ½·l_t + ½·s_t
  *
  * Execution shape: five exact sufficient sums per series (n, Σt, Σx,
  * Σt², Σtx) as unbounded windows over the index window, one shuffle on
  * the key; a and b derive in closed form (Cramer) on every row, are
  * ROUNDED (the determinism convention: every recursion input is
  * bit-identical cross-engine), and the SES is a running window
  * aggregate on the same exchange and sort. Oracle: OLS sums + the q73
  * recursive-CTE recipe over the rounded theta2 values (q213).
  *
  * Determinism of the sums: the value micro-rounds to the 1e-4 grid
  * per row (round(x·1e4) as a long) and every sufficient sum
  * accumulates as decimal(38,0) — exact in any partial-aggregation
  * order and immune to the Σt² > 2^53 precision cliff on very long
  * series. Summing the raw doubles instead left theta_a one 4th-decimal
  * ulp apart between engines on knife-edge series (observed at
  * sf0.001 before the r9 fix).
  */
object Theta {

  /** Seasonal Theta: the classic method over the additively-
    * deseasonalized series. The seasonal component is the per-(key,
    * period) mean deviation from the per-key mean (the q50 seasonal-
    * group-mean machinery), ROUNDED so both engines deseasonalize from
    * identical doubles; Theta runs on x − s and the fitted value
    * re-adds s. Adds `seasonal` and `theta_sfitted` alongside the
    * trend coefficients. Two extra key-prefixed window passes on top
    * of [[fitted]] — no new exchange grain. */
  def fittedSeasonal(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                     valueCol: String, period: Column,
                     alpha: Double): DataFrame = {
    val key = keyCols.map(col)
    val byKey = Window.partitionBy(key: _*)
    val byKeyPeriod = Window.partitionBy(key :+ period: _*)
    val x = col(valueCol)
    val t = df
      .withColumn("seasonal",
        r(avg(x).over(byKeyPeriod) - avg(x).over(byKey)))
      .withColumn("__adj", r(x - col("seasonal")))
    fitted(t, keyCols, ord, "__adj", alpha)
      .withColumn("theta_sfitted", r(col("theta_fitted") + col("seasonal")))
      .drop("__adj")
  }

  /** h-step Theta forecast — the method's reason to exist (its M3
    * entry): the trend line extends to t = n+s while the SES of the
    * theta2 line carries FLAT beyond the sample (SES's h-step forecast
    * is its last level), so
    *
    *   ŷ_{n+s} = r( ½·(a + b·(n+s)) + ½·ses_n )
    *
    * One row per (series, step): the last index and SES state are read
    * by one [[SeriesTail]] aggregate over the fit's own window pass, no
    * new exchange grain. */
  def forecast(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
               valueCol: String, alpha: Double, h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val last = SeriesTail.of(
      SeriesTail.indexed(fittedFull(df, keyCols, ord, valueCol, alpha), keyCols, ord), keyCols,
      Seq("theta_a", "theta_b", "__t", "__ses").map(c => SeriesTail.last(col(c)).as(c)))
    SequentialKernels.stepRows(last, keyCols, (1 to h).map(s =>
      forecastStep(col("theta_a"), col("theta_b"), col("__t"), col("__ses"), s)), "theta_forecast")
  }

  /** Step `s` of the forecast from a series' trend coefficients, its
    * last index t_n and last SES state: r(½·(a + b·(t_n + s)) + ½·ses_n). */
  private[seq] def forecastStep(a: Column, b: Column, tn: Column, ses: Column,
                                s: Int): Column =
    r(lit(0.5) * (a + b * (tn + lit(s.toDouble))) + lit(0.5) * ses)

  /** Adds `theta_fitted` (plus the a/b trend coefficients) to the
    * series frame. `ord` must be unique per key. */
  def fitted(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
             valueCol: String, alpha: Double): DataFrame =
    fittedFull(df, keyCols, ord, valueCol, alpha)
      .drop("__t", "__l", "__z", "__ses")

  /** The fit with its working columns (__t index, __l trend line, __z
    * theta2 value, __ses smoothed state) still attached — the forecast
    * reads the last-row state from here.
    *
    * The trend sums are unbounded series-window aggregates over the
    * index window, so the coefficients ride its exchange and sort with
    * no coefficient table joined back. They are exact decimal sums, so
    * their value does not depend on the order the window adds in: a and
    * b equal the grouped form's bit for bit. Rows with a NULL key drop,
    * as the inner join of that form dropped them. */
  private[seq] def fittedFull(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                         valueCol: String, alpha: Double): DataFrame = {
    val key = keyCols.map(col)
    val w = Window.partitionBy(key: _*).orderBy(ord: _*)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val indexed = df.filter(key.map(_.isNotNull).reduce(_ && _))
      .withColumn("__t", row_number().over(w).cast("double"))
    val (l, z) = line(col("__t"), col(valueCol))
    val withLine = indexed.select(col("*") +: trendSums(col("__t"), col(valueCol), wAll): _*)
      .select(col("*") +: trendCoefs: _*)
      .drop(TrendSumCols: _*)
      .select(col("*"), l.as("__l"), z.as("__z"))
    SequentialKernels.withEwma(withLine, keyCols, ord, "__z", alpha, "__ses")
      .withColumn("theta_fitted", fittedOf(col("__l"), col("__ses")))
  }

  private val TrendSumCols = Seq("__th_n", "__th_st", "__th_sxm", "__th_stt", "__th_stxm")

  /** The trend line's five exact sums (n, Σt, Σx, Σt², Σtx; x in 1e-4
    * micro-units, all decimal(38,0)) over index `t`, as window
    * aggregates over `wAll`, one column each. */
  private[seq] def trendSums(t: Column, x: Column, wAll: WindowSpec): Seq[Column] = {
    val dec = "decimal(38,0)"
    val tL = t.cast(dec)
    val xm = graft.expr.RoundHalfUpExpr.column(x * 1e4).cast(dec)
    Seq(count(lit(1)), sum(tL), sum(xm), sum(tL * t.cast("long")),
      sum(tL * graft.expr.RoundHalfUpExpr.column(x * 1e4).cast("long")))
      .zip(TrendSumCols).map { case (s, n) => s.over(wAll).as(n) }
  }

  /** `theta_b` and `theta_a`, rounded, from the [[trendSums]] columns. */
  private[seq] def trendCoefs: Seq[Column] = {
    val Seq(n, st, sxm, stt, stxm) = TrendSumCols.map(col)
    val nD = n.cast("decimal(38,0)")
    val bRaw = (nD * stxm - st * sxm).cast("double") / lit(1e4) /
      (nD * stt - st * st).cast("double")
    // single-observation series have a degenerate denominator: flat trend
    val b = r(when(n > 1, bRaw).otherwise(lit(0.0)))
    Seq(b.as("theta_b"),
      r((sxm.cast("double") / lit(1e4) - b * st.cast("double")) / n.cast("double")).as("theta_a"))
  }

  /** The trend line l = a + b·t and the theta2 value z = r(2·x − l) at
    * index `t` with value `x`. */
  private[seq] def line(t: Column, x: Column): (Column, Column) = {
    val l = col("theta_a") + col("theta_b") * t
    (l, r(lit(2.0) * x - l))
  }

  /** ŷ = r(½·l + ½·ses). */
  private[seq] def fittedOf(l: Column, ses: Column): Column =
    r(lit(0.5) * l + lit(0.5) * ses)
}
