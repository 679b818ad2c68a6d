package graft.seq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Funcs.r

/** The M-competition baseline forecast suite — naive (last value),
  * seasonal naive (same phase one period back), drift (last value plus
  * the average historical increment), and the in-sample mean — h steps
  * ahead per series, side by side. Every serious forecast evaluation
  * anchors on these (a model that cannot beat snaive/drift is noise;
  * the reference falls back to exactly these — category/regional/global
  * mean predictions in src/models/cold_start_solutions.py:473-484, a
  * fixed-parameter model in src/models/arima_temporal.py:333-336), and
  * MASE (q210) scales by exactly the naive error this suite produces.
  *
  * Fully relational: one ordered window indexes each series, and one
  * [[SeriesTail]] aggregate collapses it to (first, last, mean, n) and
  * the seasonal lookup — each step's value one period back, NULL where
  * the series is shorter than the period, so that step falls back to
  * naive. The h steps explode map-side. One series-key shuffle; no
  * join, no recursion, no state.
  */
object Baselines {

  /** One row per (series, step 1..h): `base`'s `cols`, `step` and
    * `__sv`, the step's season base `__b<step>` ([[SeriesTail.bases]]). */
  private def seasonSteps(base: DataFrame, cols: Seq[Column], h: Int): DataFrame =
    base.select(cols :+ explode(array((1 to h).map(s =>
      struct(lit(s).as("step"), col(s"__b$s").as("__sv"))): _*)).as("__e"): _*)
      .select(col("*"), col("__e.step").as("step"), col("__e.__sv").as("__sv"))

  /** @return one row per (series, step 1..h):
    *         naive_fc, snaive_fc, drift_fc, mean_fc. */
  def forecasts(df: DataFrame, keys: Seq[String], ord: Column, value: String,
                h: Int, period: Int): DataFrame = {
    require(h >= 1 && period >= 1, "h and period must be positive")
    val keyCols = keys.map(col)
    val v = col(value)
    val per = SeriesTail.of(SeriesTail.indexed(df, keys, Seq(ord)), keys,
      Seq(SeriesTail.first(v).as("__first"), SeriesTail.last(v).as("__last"),
        r(avg(v)).as("mean_fc")) ++ SeriesTail.bases(v, lit(period), h))
    seasonSteps(per, keyCols ++ Seq(col(SeriesTail.Count).as("__n"), col("__first"),
      col("__last"), col("mean_fc")), h)
      .select(keyCols ++ Seq(col("step"),
        col("__last").as("naive_fc"),
        coalesce(col("__sv"), col("__last")).as("snaive_fc"),
        when(col("__n") > 1,
          r(col("__last") + col("step") * (col("__last") - col("__first"))
            / (col("__n") - lit(1))))
          .otherwise(col("__last")).as("drift_fc"),
        col("mean_fc")): _*)
  }

  /** Seasonal naive with a PER-SERIES period — the composition of
    * [[graft.operators.Decompose.dominantPeriod]] with the snaive
    * baseline: each series wraps at its own detected period instead of
    * one hardcoded seasonality. `periods` carries one row per series
    * (`keys` + `periodCol`); series missing from it drop (inner join —
    * detection ran on the same spine). The period joins onto the series
    * rows, so the seasonal lookup is read by the same one aggregate as
    * in [[forecasts]].
    *
    * @return (keys, step 1..h, period, snaive_fc) */
  def seasonalNaiveAdaptive(df: DataFrame, keys: Seq[String], ord: Column,
                            value: String, periods: DataFrame,
                            periodCol: String, h: Int): DataFrame = {
    require(h >= 1, "h must be positive")
    val keyCols = keys.map(col)
    val v = col(value)
    val withPeriod = df.join(periods.select(keyCols :+ col(periodCol).as("period"): _*), keys)
    // one period per series, so grouping by it keeps the series groups
    val per = SeriesTail.of(SeriesTail.indexed(withPeriod, keys, Seq(ord)), keys :+ "period",
      SeriesTail.last(v).as("__last") +: SeriesTail.bases(v, col("period"), h))
    seasonSteps(per, keyCols ++ Seq(col("period"), col("__last")), h)
      .select(keyCols ++ Seq(col("step"), col("period"),
        coalesce(col("__sv"), col("__last")).as("snaive_fc")): _*)
  }
}
