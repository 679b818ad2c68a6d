package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Calendar, Funcs}
import graft.functions.Funcs.safeDiv

/** The wide feature-store composition: the reference's
  * `run_full_pipeline` materializes ~300 columns from four feature
  * engines then selects top-K (reference:
  * src/features/feature_pipeline.py:80-186,423-468). Here the four
  * families are composed so the expensive ones share ONE series
  * exchange:
  *
  *   - temporal (lags/deltas/pct-changes/rolling stats/momentum/slope/
  *     autocorr/accel) — window functions over ONE (keys, week) window;
  *   - behavioral (recency, activity, lifecycle age, percent-rank) —
  *     windows over the SAME partitioning (different sort orders resort
  *     in place, no new shuffle);
  *   - calendar/business (date parts, flags, cyclical encodings,
  *     seasons) — pure per-row projections, no shuffle;
  *   - aggregation (per-key stats, intermittency, share-of-key) —
  *     unbounded group frames over the SAME partitioning: no groupBy,
  *     no join-back, no broadcast of a series-dim agg (which grows
  *     with the data and would OOM a broadcast at 100 TB).
  *
  * The EWMA sequential kernel ([[graft.seq.SequentialKernels.withEwma]])
  * is a native running window aggregate over the same (keys, week)
  * window, so it rides the same series exchange as the window families
  * and is pruned when a consumer drops `ewma_03` (q110). Built over
  * `Enrichment.weeklyAggregate` of the fact, the plan holds two
  * exchanges: the weekly groupBy and one series exchange. PlanSpec
  * pins that budget.
  */
object FeatureStore {

  /** Build the wide frame over a weekly series grain.
    *
    * @param weekly one row per (keys..., weekCol) with qtyCol measure
    * @param lagSet  lag depths (weeks)
    * @param rollSet rolling window lengths (weeks)
    */
  def wide(weekly: DataFrame, keys: Seq[String], weekCol: String, qtyCol: String,
           lagSet: Seq[Int] = Seq(1, 2, 3, 4, 6, 8, 12),
           rollSet: Seq[Int] = Seq(2, 3, 4, 6, 8, 12)): DataFrame = {
    val sw = SeriesWindow(keys.map(col), Seq(col(weekCol)))
    val qty = col(qtyCol)

    // ---- sequential kernel: a running window aggregate on the series
    // window (see class doc) ----
    var out =
      graft.seq.SequentialKernels.withEwma(weekly, keys, Seq(col(weekCol)), qtyCol, 0.3, "ewma_03")

    // ---- temporal family: one window partitioning ----
    WindowFeatures.lags(qty, lagSet, sw).foreach { case (n, c) =>
      out = out.withColumn(n, c)
    }
    lagSet.foreach { k =>
      out = out
        .withColumn(s"delta_$k", WindowFeatures.lagDelta(qty, k, sw))
        .withColumn(s"pct_change_$k", WindowFeatures.lagPctChange(qty, k, sw))
    }
    rollSet.foreach { n =>
      out = out
        .withColumn(s"roll${n}_mean", WindowFeatures.rollingAvg(qty, n, sw))
        .withColumn(s"roll${n}_std", WindowFeatures.rollingStd(qty, n, sw))
        .withColumn(s"roll${n}_min", WindowFeatures.rollingMin(qty, n, sw))
        .withColumn(s"roll${n}_max", WindowFeatures.rollingMax(qty, n, sw))
        .withColumn(s"roll${n}_sum", WindowFeatures.rollingSum(qty, n, sw))
        .withColumn(s"roll${n}_cv", WindowFeatures.rollingCv(qty, n, sw))
    }
    out = out
      .withColumn("momentum_1", WindowFeatures.momentum(qty, 1, sw))
      .withColumn("momentum_4", WindowFeatures.momentum(qty, 4, sw))
      .withColumn("stability", WindowFeatures.groupStability(qty, sw))
    out = WindowFeatures.withRollingSlope(out, qtyCol, 8, sw, "slope_8")
    out = WindowFeatures.withRollingAutocorr1(out, qtyCol, 8, sw, "autocorr_8")
    out = WindowFeatures.withTrendAccel(out, qtyCol, 8, sw, "accel_8")

    // ---- behavioral family: same partitioning, different sort keys ----
    val byQty = Window.partitionBy(keys.map(col): _*).orderBy(qty, col(weekCol))
    out = out
      .withColumn("pct_rank_in_key", percent_rank().over(byQty))
      .withColumn("zscore_in_key",
        safeDiv(qty - avg(qty).over(sw.group),
          Funcs.nanToNull(stddev(qty).over(sw.group))))
      .withColumn("minmax_in_key",
        safeDiv(qty - min(qty).over(sw.group), max(qty).over(sw.group) - min(qty).over(sw.group)))
      .withColumn("age_weeks",
        (datediff(col(weekCol), min(col(weekCol)).over(sw.group)) / 7).cast("long"))
      .withColumn("weeks_since_nonzero",
        (datediff(col(weekCol),
          last(when(qty > 0, col(weekCol)), ignoreNulls = true)
            .over(sw.w.rowsBetween(Window.unboundedPreceding, -1))) / 7).cast("long"))
      .withColumn("nonzero_last_4",
        sum(when(qty > 0, 1L).otherwise(0L)).over(sw.rows(-3, 0)))

    // ---- calendar/business family: per-row projections ----
    val calCols = Calendar.dateParts(col(weekCol)) ++
      Calendar.calendarFlags(col(weekCol)) ++
      Calendar.cyclicalEncodings(col(weekCol)) ++
      Calendar.seasonFlags(col(weekCol)) :+
      ("days_since_epoch" -> Calendar.daysSinceEpoch(col(weekCol)))
    calCols.foreach { case (n, c) => out = out.withColumn(n, c) }

    // ---- aggregation family: unbounded group frames over the SAME
    // series partitioning — zero extra exchange, and no join against a
    // series-dim agg (which would be broadcast-unsafe at 100 TB: the
    // series dimension grows with the data) ----
    out = out
      .withColumn("key_sum", sum(qty).over(sw.group))
      .withColumn("key_mean", avg(qty).over(sw.group))
      .withColumn("key_std", Funcs.nanToNull(stddev(qty).over(sw.group)))
      .withColumn("key_min", min(qty).over(sw.group))
      .withColumn("key_max", max(qty).over(sw.group))
      .withColumn("key_n_weeks", count(lit(1)).over(sw.group))
      .withColumn("key_nonzero_ratio",
        avg(when(qty > 0, 1.0).otherwise(0.0)).over(sw.group))
      .withColumn("key_cv", safeDiv(col("key_std"), col("key_mean")))
      .withColumn("adi",
        col("key_n_weeks") / (col("key_nonzero_ratio") * col("key_n_weeks") + lit(Funcs.Eps)))
      .withColumn("share_of_key", safeDiv(qty, col("key_sum")))
    out
  }

  /** The skew-proof fact→store path (r15 verdict ask #5): the q325
    * partialed-rolling discipline as the DEFAULT entry for building the
    * store from raw facts, instead of an opt-in operator the caller
    * must remember.
    *
    * Stage 1 PARTIALS the raw fact to the (keys, week) series grain
    * with one hash aggregate ([[graft.etl.Enrichment.weeklyAggregate]]):
    * map-side combine absorbs hot keys — a key with 10⁹ fact rows ships
    * one partial per map partition into the shuffle, never 10⁹ window
    * inputs. Stage 2 runs [[wide]]'s window families OVER THE PARTIALS,
    * where per-series window depth is bounded by the CALENDAR (weeks
    * observed), not the fact row count — exactly q325
    * `partialedRolling`'s window-over-partials shape, generalized from
    * one rolling sum to the whole temporal family (every W4 rolling
    * column, lags, slopes, autocorr). The raw-window alternative
    * (row frames straight over fact rows) pays the hot key inside the
    * window sort: SkewProbe measured 4.12× degradation raw vs 0.76×
    * partialed under a hot key (BENCH_NOTES r15).
    *
    * R16OpsSpec pins (a) row-for-row parity with the external
    * `wide(weeklyAggregate(fact))` composition (so the q110 oracle is
    * unchanged by construction) and (b) the plan shape: a partial
    * HashAggregate sits between the fact scan and the first Window —
    * no window function ever sees a fact-grain row. */
  def wideFromFact(fact: DataFrame, keys: Seq[String], dateCol: Column,
                   measure: Column,
                   lagSet: Seq[Int] = Seq(1, 2, 3, 4, 6, 8, 12),
                   rollSet: Seq[Int] = Seq(2, 3, 4, 6, 8, 12)): DataFrame = {
    val weekly = graft.etl.Enrichment.weeklyAggregate(
      fact, dateCol, keys.map(col), measure)
    wide(weekly, keys, "week_start", "qty_sum", lagSet, rollSet)
  }

  /** `wide` + the reference's select-top-K step: score every generated
    * feature against a LEAK-FREE target (next week's quantity) and keep
    * the top K plus essentials (feature_pipeline.py:423-468; scoring =
    * FeatureQuality.importanceScores). */
  def wideSelected(weekly: DataFrame, keys: Seq[String], weekCol: String, qtyCol: String,
                   k: Int = 50): DataFrame = {
    val sw = SeriesWindow(keys.map(col), Seq(col(weekCol)))
    val base = wide(weekly, keys, weekCol, qtyCol)
    val baseCols = (keys :+ weekCol :+ qtyCol).toSet
    val featureCols = base.columns.filterNot(baseCols.contains)
      .filter(c => base.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val labeled = base
      .withColumn("__label", lead(col(qtyCol), 1).over(sw.w))
      .filter(col("__label").isNotNull)
    FeatureQuality.selectTopK(labeled, featureCols.toSeq, "__label", k,
      essentials = keys :+ weekCol :+ qtyCol)
      .drop("__label")
  }
}
