package graft.seq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
  * Execution shape: one aggregate collapses each series to five exact
  * sufficient sums (n, Σt, Σx, Σt², Σtx) — map-side combinable, one
  * shuffle on the key; a and b derive in closed form (Cramer), are
  * ROUNDED (the determinism convention: every recursion input is
  * bit-identical cross-engine), joined back on the key, and the SES
  * rides the same sort-within-partitions streaming fold as the other
  * kernels. Oracle: OLS sums + the q73 recursive-CTE recipe over the
  * rounded theta2 values (q213).
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
    * One row per (series, step); everything derives from the fit's own
    * frames, no new exchange grain. */
  def forecast(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
               valueCol: String, alpha: Double, h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val key = keyCols.map(col)
    val full = fittedFull(df, keyCols, ord, valueCol, alpha)
    val wd = Window.partitionBy(key: _*).orderBy(ord.map(_.desc): _*)
    val last = full.withColumn("__rd", row_number().over(wd))
      .filter(col("__rd") === 1)
    val steps = (1 to h).map { s =>
      struct(lit(s.toLong).as("step"),
        forecastStep(col("theta_a"), col("theta_b"), col("__t"), col("__ses"), s)
          .as("theta_forecast"))
    }
    last.select(key :+ explode(array(steps: _*)).as("__p"): _*)
      .select(key ++ Seq(col("__p.step").as("step"),
        col("__p.theta_forecast").as("theta_forecast")): _*)
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
    * reads the last-row state from here. */
  private[seq] def fittedFull(df: DataFrame, keyCols: Seq[String], ord: Seq[Column],
                         valueCol: String, alpha: Double): DataFrame = {
    val key = keyCols.map(col)
    val w = Window.partitionBy(key: _*).orderBy(ord: _*)
    val indexed = df.withColumn("__t", row_number().over(w).cast("double"))
    val x = col(valueCol)
    val dec = "decimal(38,0)"
    val tL = col("__t").cast(dec)
    val xm = graft.expr.RoundHalfUpExpr.column(x * 1e4).cast(dec)
    val sums = indexed.groupBy(key: _*).agg(
      count(lit(1)).as("__n"),
      sum(tL).as("__st"),
      sum(xm).as("__sxm"),
      sum(tL * col("__t").cast("long")).as("__stt"),
      sum(tL * graft.expr.RoundHalfUpExpr.column(x * 1e4).cast("long")).as("__stxm"))
    val nD = col("__n").cast(dec)
    val bRaw = (nD * col("__stxm") - col("__st") * col("__sxm")).cast("double") /
      lit(1e4) /
      (nD * col("__stt") - col("__st") * col("__st")).cast("double")
    // single-observation series have a degenerate denominator: flat trend
    val coefs = sums
      .withColumn("theta_b", r(when(col("__n") > 1, bRaw).otherwise(lit(0.0))))
      .withColumn("theta_a",
        r((col("__sxm").cast("double") / lit(1e4) -
          col("theta_b") * col("__st").cast("double")) / col("__n").cast("double")))
      .select(key ++ Seq(col("theta_a"), col("theta_b")): _*)
    val withLine = indexed.join(coefs, keyCols)
      .withColumn("__l", col("theta_a") + col("theta_b") * col("__t"))
      .withColumn("__z", r(lit(2.0) * x - col("__l")))
    SequentialKernels.withEwma(withLine, keyCols, ord, "__z", alpha, "__ses")
      .withColumn("theta_fitted", r(lit(0.5) * col("__l") + lit(0.5) * col("__ses")))
  }
}
