package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M17 — submission format validator
  * (reference: scripts/submissions/validate_submission.py:63-266):
  * schema, week ∈ [1,5], non-negative integer quantities, no nulls, no
  * duplicate (week, store, product) keys, plus distribution stats.
  * ONE scan of the submission frame produces the report: every count
  * derives from its grouping by the key; `isValid` reduces it to a
  * boolean.
  */
object SubmissionValidator {

  val RequiredColumns: Seq[String] = Seq("semana", "pdv", "produto", "quantidade")

  /** Violation-count report as a 1-row DataFrame. Row counts are summed
    * over the key groups: a key column is constant inside its group, so
    * the week and null-key tests count whole groups. The counts read 0,
    * not null, on an empty frame. */
  def report(df: DataFrame): DataFrame = {
    val (week, qty) = (col("semana"), col("quantidade"))
    val nullKey = week.isNull || col("pdv").isNull || col("produto").isNull
    def total(c: Column): Column = coalesce(sum(c), lit(0L))
    df.groupBy(week, col("pdv"), col("produto")).agg(
      count(lit(1)).as("c"), count(qty).as("c_qty"),
      sum(when(qty < 0, 1L).otherwise(0L)).as("c_neg"),
      sum(when(qty =!= qty.cast("long"), 1L).otherwise(0L)).as("c_frac"),
      min(qty).as("q_min"), max(qty).as("q_max"), sum(qty.cast("double")).as("q_sum"))
      .agg(
        total(col("c")).as("total_rows"),
        total(when(nullKey, col("c")).otherwise(col("c") - col("c_qty"))).as("null_rows"),
        total(when(week < 1 || week > 5, col("c"))).as("bad_week_rows"),
        total(col("c_neg")).as("negative_qty_rows"),
        total(col("c_frac")).as("non_integer_rows"),
        countDistinct(week).as("n_weeks"),
        countDistinct(col("pdv")).as("n_stores"),
        countDistinct(col("produto")).as("n_products"),
        min(col("q_min")).as("qty_min"), max(col("q_max")).as("qty_max"),
        try_divide(sum(col("q_sum")), sum(col("c_qty"))).as("qty_mean"),
        total(when(col("c") > 1, col("c") - 1)).as("dup_rows"))
  }

  /** Hard gate: schema present and every violation count zero (so an
    * empty frame passes). */
  def isValid(df: DataFrame): Boolean = {
    if (!RequiredColumns.forall(df.columns.contains)) return false
    val r = report(df).select("null_rows", "bad_week_rows", "negative_qty_rows",
      "non_integer_rows", "dup_rows").head()
    (0 until r.length).forall(i => r.getLong(i) == 0L)
  }

  /** Plausibility report (reference: src/submissions/risk_manager.py
    * LeakageRiskAssessor:272-296 — format validity is necessary but
    * not sufficient; a submission can be well-formed and still scream
    * leak). One row of risk signals:
    *
    *  - `leak_risk`: the reference's suspicious-score ladder on the
    *    validation WMAPE — < 5% → 1.0, < 10% → 0.7, else 0.0
    *    (computed on the ROUNDED wmape so the class can't flip on
    *    summation-order ulps, the monitorRun convention);
    *  - `shift_pct`/`shift_flag`: relative mean shift of submitted
    *    quantities vs the history distribution (the temporal-
    *    consistency analog — a forecast whose level walked away from
    *    everything ever observed);
    *  - `constant_flag`: a single distinct predicted value (the
    *    degenerate model the format gate can't see);
    *  - `risk_score`: reference weighting — 0.6·leak + 0.3·shift +
    *    0.1·constant, capped at 1.
    *
    * `actuals` must carry the RequiredColumns keys plus the actual
    * value; WMAPE pools over the inner key match. All legs are 1-row
    * aggregates cross-joined — one pass over each frame, no
    * fact-sized shuffle. */
  def plausibilityReport(sub: DataFrame, actuals: DataFrame, actual: Column,
                         history: DataFrame, histValue: Column,
                         wmapeSuspicious: Double = 5.0, wmapeWarn: Double = 10.0,
                         shiftWarnPct: Double = 50.0): DataFrame = {
    import graft.functions.Funcs.r
    val keys = RequiredColumns.filterNot(_ == "quantidade")
    val joined = sub.join(actuals, keys)
    val wm = joined.agg(
      count(lit(1)).as("n_matched"),
      r(sum(abs(actual - col("quantidade"))) / sum(abs(actual)) * 100)
        .as("wmape_pct"))
    val subStats = sub.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("quantidade")).as("n_distinct_qty"),
      r(avg(col("quantidade"))).as("sub_mean"))
    val histStats = history.agg(r(avg(histValue)).as("hist_mean"))
    subStats.crossJoin(broadcast(wm)).crossJoin(broadcast(histStats))
      .withColumn("leak_risk",
        when(col("wmape_pct") < wmapeSuspicious, 1.0)
          .when(col("wmape_pct") < wmapeWarn, 0.7).otherwise(0.0))
      .withColumn("shift_pct",
        r(abs(col("sub_mean") - col("hist_mean")) / col("hist_mean") * 100))
      .withColumn("shift_flag",
        when(col("shift_pct") > shiftWarnPct, 1L).otherwise(0L))
      .withColumn("constant_flag",
        when(col("n_distinct_qty") === 1, 1L).otherwise(0L))
      .withColumn("risk_score", r(least(
        col("leak_risk") * 0.6 + col("shift_flag") * 0.3
          + col("constant_flag") * 0.1, lit(1.0))))
  }
}
