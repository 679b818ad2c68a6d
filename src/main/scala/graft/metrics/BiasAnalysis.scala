package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs.{microSum, microSumSq, pct, r}

/** Systematic-bias detection — the reference's Phase-5 bias analyzer
  * (src/evaluation/error_analysis.py:467-610 detect_systematic_bias):
  * per analysis group, one tall report with
  *
  *   section 'overall'    mean/median bias, bias% of the actual mean,
  *                        over/under rates, the one-sample t statistic
  *                        and the Wilcoxon signed-rank statistic
  *                        (n > 10 guard as in the reference), the
  *                        Low/Medium/High severity ladder (5%/10%),
  *                        direction and the systematic-bias flag
  *   section 'dimension'  per-segment mean/median/std/count with the
  *                        reference's |mean| > 2·std/√n significance
  *                        gate and the max-|bias| segment marker
  *   section 'trend'      OLS slope / r² / t of the per-period mean
  *                        bias over the `trendDim` segments (:555-575)
  *
  * p-value gates follow the house statistic-threshold convention
  * (ResidualDiagnostics): the t-test's p < 0.05 becomes |t| > 1.96.
  * The Wilcoxon statistic is scipy's min(R+, R−) over average ranks of
  * |error| with zeros dropped, computed exactly via the doubled-rank
  * integer device (Assoc.spearman's tie treatment).
  *
  * Execution shape: ONE GROUPING-SETS pass computes the overall grain
  * and every dimension grain together (the errorSlices device), one
  * group-partitioned rank window feeds the signed-rank sums, and the
  * trend regression runs on the period-grain rows (tiny). Errors are
  * rounded to the 4dp grid; all means/stds are ratios of micro-int
  * decimal(38,0) sums; every statistic is rounded before its gate.
  */
object BiasAnalysis {

  /** Volume-pattern error analysis — the reference's other Phase-5
    * requirement (error_analysis.py:357-466 analyze_volume_patterns):
    * actuals quantile-cut at the 0.33/0.67 points into Small/Medium/
    * Large segments (pd.cut closed-right bins), each profiled with the
    * full error block (WMAPE, MAE, MAPE over per-row pct errors, bias,
    * sample std, over/under rates, >50% large-error rate) and the
    * volume range; every row also carries the group-level cross-segment
    * summary (:428-447: best/worst segment by WMAPE, the WMAPE range,
    * the >5-point significance flag and the small-vs-large ×1.2
    * struggle flags) so the table is self-contained.
    *
    * Execution shape: one group-grain quantile aggregate joined back
    * (threshold table is group-sized), one hash-aggregate to the
    * (group, segment ≤ 3) grain, and group-partitioned windows over
    * that tiny grain for the summary. Thresholds and per-row pct
    * errors are rounded before every comparison.
    */
  def volumePatterns(df: DataFrame, groupCols: Seq[String], actual: Column,
                     pred: Column,
                     exactPercentile: Option[Boolean] = None): DataFrame = {
    val keys = groupCols.map(col)
    // same shared-materialization trade as systematicBias: the
    // threshold aggregate and the segment join-back both consume pre
    val pre = df.select(keys ++ Seq(r(actual).as("__a"), r(pred).as("__p")): _*)
      .withColumn("__e", r(col("__a") - col("__p")))
      .withColumn("__pe", r(abs(col("__e")) / (abs(col("__a")) + lit(1e-8)) * lit(100.0)))
      .localCheckpoint(true)
    val th = pre.groupBy(keys: _*).agg(
      graft.functions.Funcs.pctArray(col("__a"), Seq(0.33, 0.67),
        exactPercentile).as("__t"))
      .select(keys ++ Seq(r(col("__t").getItem(0)).as("__t33"),
        r(col("__t").getItem(1)).as("__t67")): _*)
    val seg = (if (groupCols.isEmpty) pre.crossJoin(th) else pre.join(th, groupCols))
      .withColumn("volume_segment",
        when(col("__a") <= col("__t33"), "Small")
          .when(col("__a") <= col("__t67"), "Medium").otherwise("Large"))
    val g = seg.groupBy(keys :+ col("volume_segment"): _*).agg(
      count(lit(1)).as("n"),
      min(col("__a")).as("__vmin"), max(col("__a")).as("__vmax"),
      microSum(col("__a")).as("__va"),
      microSum(abs(col("__e"))).as("__sad"),
      microSum(abs(col("__a"))).as("__saa"),
      microSum(col("__pe")).as("__spe"),
      microSum(col("__e")).as("__se"),
      microSumSq(col("__e")).as("__sse"),
      sum(when(col("__e") < 0, 1L).otherwise(0L)).as("__nneg"),
      sum(when(col("__e") > 0, 1L).otherwise(0L)).as("__npos"),
      sum(when(col("__pe") > 50, 1L).otherwise(0L)).as("__nlarge"))
    val n = col("n").cast("double")
    val scored = g
      .withColumn("volume_min", r(col("__vmin")))
      .withColumn("volume_max", r(col("__vmax")))
      .withColumn("volume_mean", r(col("__va") / n))
      .withColumn("wmape", r(col("__sad") / (col("__saa") + lit(1e-8)) * lit(100.0)))
      .withColumn("mae", r(col("__sad") / n))
      .withColumn("mape", r(col("__spe") / n))
      .withColumn("bias", r(col("__se") / n))
      .withColumn("std_error", r(when(col("n") > 1,
        sqrt(greatest((col("__sse") - col("__se") * col("__se") / n) / (n - 1),
          lit(0.0))))))
      .withColumn("overestimate_pct", r(col("__nneg") / n * lit(100.0)))
      .withColumn("underestimate_pct", r(col("__npos") / n * lit(100.0)))
      .withColumn("large_errors_pct", r(col("__nlarge") / n * lit(100.0)))
    val wAll = Window.partitionBy(keys: _*)
    val wBest = wAll.orderBy(col("wmape").asc, col("volume_segment").asc)
    val wWorst = wAll.orderBy(col("wmape").desc, col("volume_segment").asc)
    def segWmape(s: String): Column =
      max(when(col("volume_segment") === s, col("wmape"))).over(wAll)
    val out = scored
      .withColumn("best_segment", first(col("volume_segment")).over(wBest))
      .withColumn("worst_segment", first(col("volume_segment")).over(wWorst))
      .withColumn("wmape_range",
        r(max(col("wmape")).over(wAll) - min(col("wmape")).over(wAll)))
      .withColumn("sig_volume_diff", (col("wmape_range") > 5).cast("int"))
      .withColumn("small_struggles",
        coalesce(segWmape("Small") > segWmape("Large") * lit(1.2), lit(false))
          .cast("int"))
      .withColumn("large_struggles",
        coalesce(segWmape("Large") > segWmape("Small") * lit(1.2), lit(false))
          .cast("int"))
    out.select(keys ++ Seq(col("volume_segment"), col("n").cast("long").as("n_rows"),
      col("volume_min"), col("volume_max"), col("volume_mean"), col("wmape"),
      col("mae"), col("mape"), col("bias"), col("std_error"),
      col("overestimate_pct"), col("underestimate_pct"), col("large_errors_pct"),
      col("best_segment"), col("worst_segment"), col("wmape_range"),
      col("sig_volume_diff"), col("small_struggles"), col("large_struggles")): _*)
  }

  def systematicBias(df: DataFrame, groupCols: Seq[String],
                     dims: Seq[(String, Column)], actual: Column, pred: Column,
                     trendDim: Option[String] = None,
                     exactMedian: Option[Boolean] = None): DataFrame = {
    val keys = groupCols.map(col)
    val dimNames = dims.map(_._1)
    // narrow (keys, dims, e, a) projection materialized ONCE: the
    // GROUPING-SETS pass and the signed-rank pass are separate
    // consumers, and without the checkpoint each re-runs the caller's
    // full input lineage (q278 feeds a fact-wide window — measured as
    // the whole scan+sort+window twice; guide §2.4's "shared exchange"
    // argument, realized as a shared materialization)
    val pre = df.select(keys ++
      dims.map { case (n, c) => c.cast("string").as(n) } ++
      Seq(r(actual - pred).as("__e"), r(actual).as("__a")): _*)
      .localCheckpoint(true)

    // ---- one pass: overall + per-dimension grains via GROUPING SETS
    val aggs = Seq(
      count(lit(1)).as("n"),
      microSum(col("__e")).as("__s"),
      microSumSq(col("__e")).as("__ss"),
      pct(col("__e"), 0.5, exactMedian).as("__med"),
      microSum(col("__a")).as("__sa"),
      sum(when(col("__e") < 0, 1L).otherwise(0L)).as("__nneg"),
      sum(when(col("__e") > 0, 1L).otherwise(0L)).as("__npos")) ++
      dimNames.map(n => grouping(col(n)).as("__g_" + n))
    val grouped = pre
      .groupingSets(Seq(keys) ++ dimNames.map(n => keys :+ col(n)),
        keys ++ dimNames.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val dimension = dimNames.foldLeft(lit(null).cast("string")) { (acc, n) =>
      when(col("__g_" + n) === 0, lit(n)).otherwise(acc)
    }
    val segment = dimNames.foldLeft(lit(null).cast("string")) { (acc, n) =>
      when(col("__g_" + n) === 0, col(n)).otherwise(acc)
    }
    val n = col("n").cast("double")
    // the grains table is tiny (groups × (1 + Σ|segments|)) but has
    // THREE consumers (overall / dimension / trend) that would each
    // re-run the fact-sized GROUPING-SETS pass — materialize once
    // (the Champion.pickBlendScoreFcs house pattern)
    val base = grouped.select(keys ++ Seq(dimension.as("dimension"),
      segment.as("segment"), col("n"),
      r(col("__s") / n).as("mean_bias"),
      r(col("__med")).as("median_bias"),
      r(when(col("n") > 1,
        sqrt(greatest((col("__ss") - col("__s") * col("__s") / n) / (n - 1),
          lit(0.0))))).as("std_bias"),
      r(when(col("__sa") =!= 0, (col("__s") / n) / (col("__sa") / n) * lit(100.0))
        .otherwise(lit(0.0))).as("bias_pct"),
      r(col("__nneg") / n * lit(100.0)).as("pct_over"),
      r(col("__npos") / n * lit(100.0)).as("pct_under")): _*)
      .localCheckpoint(true)

    // ---- signed-rank pass (overall grain only): doubled average ranks
    // of |e| over nonzero errors; W = min(R+, R−) exactly
    val nz = pre.filter(col("__e") =!= 0)
    val rk2 = (lit(2L) * rank().over(Window.partitionBy(keys: _*)
      .orderBy(abs(col("__e")))) +
      count(lit(1)).over(Window.partitionBy(keys :+ abs(col("__e")): _*)) -
      lit(1L)).cast("long")
    val wilcox = nz.select(keys ++ Seq(col("__e"), rk2.as("__r2")): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("__nw"), sum(col("__r2")).as("__tot2"),
        sum(when(col("__e") > 0, col("__r2")).otherwise(lit(0L))).as("__pos2"))
      .withColumn("wilcoxon_w",
        r(least(col("__pos2"), col("__tot2") - col("__pos2")).cast("double") / lit(2.0)))
      .select(keys :+ col("wilcoxon_w"): _*)

    // ---- overall rows: tests + severity ladder
    // ungrouped path: re-aggregate wilcox to a GUARANTEED one-row frame
    // (agg over an empty input still yields one null row) so the overall
    // row survives the all-zero-error degenerate case — a bare crossJoin
    // against an empty wilcox would drop it, unlike the grouped left join
    val overall0 = base.filter(col("dimension").isNull)
    val overall = (if (groupCols.isEmpty)
      overall0.crossJoin(wilcox.agg(max(col("wilcoxon_w")).as("wilcoxon_w")))
    else overall0.join(wilcox, groupCols, "left"))
      .withColumn("t_stat",
        r(when(col("n") > 10 && col("std_bias") > 0,
          col("mean_bias") / (col("std_bias") / sqrt(col("n").cast("double"))))))
      .withColumn("wilcoxon_w", when(col("n") > 10, col("wilcoxon_w")))
      .withColumn("severity",
        when(abs(col("bias_pct")) > 10, "High")
          .when(abs(col("bias_pct")) > 5, "Medium").otherwise("Low"))
      .withColumn("direction",
        when(col("mean_bias") < 0, "Overestimate").otherwise("Underestimate"))
      .withColumn("sig_flag",
        (coalesce(abs(col("t_stat")) > 1.96, lit(false)) ||
          abs(col("bias_pct")) > 5).cast("int"))
      .withColumn("section", lit("overall"))
      .withColumn("is_max_segment", lit(null).cast("int"))
      .withColumn("trend_slope", lit(null).cast("double"))
      .withColumn("trend_r2", lit(null).cast("double"))

    // ---- dimension rows: significance gate + max-|bias| marker
    val wMax = Window.partitionBy(keys :+ col("dimension"): _*)
      .orderBy(abs(col("mean_bias")).desc, col("segment").asc)
    val dimRows = base.filter(col("dimension").isNotNull)
      .withColumn("sig_flag",
        (col("std_bias").isNotNull && col("std_bias") > 0 && col("n") > 1 &&
          abs(col("mean_bias")) >
            lit(2.0) * (col("std_bias") / sqrt(col("n").cast("double")))).cast("int"))
      .withColumn("is_max_segment",
        (row_number().over(wMax) === 1).cast("int"))
      .withColumn("section", lit("dimension"))
      .withColumn("t_stat", lit(null).cast("double"))
      .withColumn("wilcoxon_w", lit(null).cast("double"))
      .withColumn("severity", lit(null).cast("string"))
      .withColumn("direction", lit(null).cast("string"))
      .withColumn("trend_slope", lit(null).cast("double"))
      .withColumn("trend_r2", lit(null).cast("double"))

    // ---- trend row: OLS of per-period mean bias on the period index
    val trend = trendDim.map { td =>
      val wOrd = Window.partitionBy(keys: _*).orderBy(col("segment"))
      val pts = base.filter(col("dimension") === td)
        .withColumn("__x", (row_number().over(wOrd) - 1).cast("double"))
        .withColumn("__y", col("mean_bias"))
      val g = pts.groupBy(keys: _*).agg(
        count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"),
        microSum(col("__y")).as("__sy"),
        microSum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        microSumSq(col("__y")).as("__syy"))
      val nT = col("n").cast("double")
      val sxx = col("__sxx") - col("__sx") * col("__sx") / nT
      val sxy = col("__sxy") - col("__sx") * col("__sy") / nT
      val syy = col("__syy") - col("__sy") * col("__sy") / nT
      val slope = sxy / sxx
      g.filter(col("n") > 2)
        .withColumn("trend_slope", r(slope))
        .withColumn("trend_r2",
          r(when(syy > 0, sxy * sxy / (sxx * syy)).otherwise(lit(0.0))))
        .withColumn("section", lit("trend"))
        .withColumn("dimension", lit(td))
        .withColumn("segment", lit(null).cast("string"))
        .withColumn("mean_bias", lit(null).cast("double"))
        .withColumn("median_bias", lit(null).cast("double"))
        .withColumn("std_bias", lit(null).cast("double"))
        .withColumn("bias_pct", lit(null).cast("double"))
        .withColumn("pct_over", lit(null).cast("double"))
        .withColumn("pct_under", lit(null).cast("double"))
        .withColumn("t_stat", lit(null).cast("double"))
        .withColumn("wilcoxon_w", lit(null).cast("double"))
        .withColumn("severity", lit(null).cast("string"))
        .withColumn("direction", lit(null).cast("string"))
        .withColumn("sig_flag", lit(null).cast("int"))
        .withColumn("is_max_segment", lit(null).cast("int"))
    }

    val outCols = Seq(col("section"), col("dimension"), col("segment"),
      col("n").cast("long").as("n_rows"), col("mean_bias"), col("median_bias"),
      col("std_bias"), col("bias_pct"), col("pct_over"), col("pct_under"),
      col("t_stat"), col("wilcoxon_w"), col("sig_flag"), col("is_max_segment"),
      col("severity"), col("direction"), col("trend_slope"), col("trend_r2"))
    val main = overall.select(keys ++ outCols: _*)
      .unionByName(dimRows.select(keys ++ outCols: _*))
    trend.map(t => main.unionByName(t.select(keys ++ outCols: _*)))
      .getOrElse(main)
  }
}
