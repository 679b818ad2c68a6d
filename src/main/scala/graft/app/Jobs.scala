package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.etl.{Cleaning, Enrichment}
import graft.functions.Calendar
import graft.io.Sinks
import graft.metrics.Metrics
import graft.operators.{AggFeatures, SeriesWindow, WindowFeatures}
import graft.post.PostProcess
import graft.seq.SequentialKernels

/** End-to-end application entry points mirroring the reference's three
  * pipelines (SURVEY §3/§7): ETL → feature store → forecast submission.
  * Each is a thin composition of the operator library — the pieces a
  * reference user runs today, wired the Spark-first way (one
  * product-key shuffle from the line items through the series windows,
  * broadcast dims, constraint chain, validated sink).
  */
object Jobs {

  /** The 100 TB deployment posture, in one place. Local/test sessions
    * keep the exactness defaults (bit-identical to the pandas reference
    * and the DuckDB oracle); a cluster deployment calls this once and
    * every operator site follows, no code changes:
    *
    *  - `spark.graft.exactPercentiles=false`: whole-group percentiles
    *    (F4 quantile filters, A27 burst thresholds, W3 medians, q09
    *    key stats) switch from exact `percentile` (ObjectHashAggregate,
    *    per-group value buffers — the one non-scale-safe default) to
    *    t-digest `percentile_approx` (bounded memory per group).
    *  - AQE on with skew-join splitting: runtime re-plan handles the
    *    skewed keys that salting utilities (etl.Skew) handle statically.
    *  - 128 MiB target partition size for coalescing shuffle output.
    *
    * Returns the session for chaining. */
  def configureForScale(spark: SparkSession): SparkSession = {
    spark.conf.set(graft.functions.Funcs.ExactPercentilesConf, "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
    spark
  }

  /** The §3.1 clean→enrich chain, shared by [[etl]] and [[etlObserved]]
    * so the audited pipeline can never silently diverge from the
    * production one.
    *
    * The cleaned line items are hash-partitioned once by `l_partkey`, the
    * one column shared by the dedup key (l_orderkey, l_partkey,
    * l_linenumber), the weekly grain (week_start, l_partkey, l_suppkey,
    * p_brand) and the series key (l_partkey, l_suppkey). A hash
    * partitioning on a subset of an operator's clustering keys satisfies
    * it, and the broadcast join to `part` keeps the stream side's
    * partitioning, so the dedup window, the weekly aggregate and the
    * series windows above [[etl]] (the feature store's, the forecast
    * leg's, the champion's whole member pass) all ride this one exchange.
    * The step relies on no product dominating the line items, since each
    * part's rows land in one partition: the busiest `l_partkey` holds
    * 0.082% of the line items at sf0.01 (2,000 parts) and 0.009% at
    * sf0.1 (20,000 parts). */
  private def cleanEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val cleaned = Seq(
      Cleaning.dropNullKeys(Seq("l_partkey", "l_suppkey")) _,
      Cleaning.fillZero(Seq("l_quantity")) _,
      Cleaning.positiveOnly("l_quantity") _,
      (_: DataFrame).repartition(col("l_partkey")),
      Cleaning.dedupKeepFirst(Seq("l_orderkey", "l_partkey", "l_linenumber"),
        Seq(col("l_quantity"), col("l_extendedprice"))) _
    ).foldLeft(li)((d, step) => step(d))
    Enrichment.enrich(cleaned, Tables.part(spark, sfDir),
      "l_partkey", "p_partkey")
  }

  private def toWeekly(enriched: DataFrame): DataFrame =
    Enrichment.weeklyAggregate(enriched, col("l_shipdate"),
      Seq(col("l_partkey"), col("l_suppkey"), col("p_brand")), col("l_quantity"))

  /** §3.1 ETL: load → clean → enrich → weekly grain. */
  def etl(spark: SparkSession, sfDir: String): DataFrame =
    toWeekly(cleanEnrich(spark, sfDir))

  /** ETL with an inline audit via Spark's `Observation` API — the
    * lakehouse run-audit pattern done the Spark-native way: the audit
    * metrics (row count, null-join rate, negative-quantity count, total
    * quantity mass) ride the SAME job as the data they audit — zero
    * extra passes, collected on the driver when the action completes —
    * instead of a second scan the way a naive quality re-check would.
    * Returns (weekly frame, observation); read
    * `observation.get` AFTER an action on the returned frame. */
  def etlObserved(spark: SparkSession, sfDir: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("etl_audit")
    val audited = cleanEnrich(spark, sfDir).observe(obs,
      count(lit(1)).as("rows_enriched"),
      sum(when(col("p_brand") === "Unknown", 1L).otherwise(0L)).as("unknown_joins"),
      sum(when(col("l_quantity") < 0, 1L).otherwise(0L)).as("negative_qty"),
      sum(col("l_quantity")).as("qty_mass"))
    (toWeekly(audited), obs)
  }

  /** END-TO-END forecast evaluation report: weekly grain → naive
    * trailing-4-week forecast → split-conformal bands (per-supplier
    * calibration) → one-row report of WMAPE, bias, and empirical band
    * coverage. The whole report is ONE plan: a series window for the
    * forecast, one per-supplier quantile aggregate joined back
    * broadcast, one final global aggregate — and it hash-matches a
    * composed DuckDB oracle end-to-end (q176). */
  def evaluateForecast(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Funcs.r
    val weekly = Enrichment.weeklyAggregate(Tables.lineitem(spark, sfDir),
      col("l_shipdate"), Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
    val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      .orderBy(col("week_start")).rowsBetween(-4, -1)
    val withPred = weekly.withColumn("pred", avg(col("qty_sum")).over(w))
    graft.operators.Conformal
      .splitConformal(withPred, Seq("l_suppkey"), col("qty_sum"), col("pred"),
        alpha = 0.9, exact = Some(true))
      .agg(count(lit(1)).as("n_rows"),
        r(sum(abs(col("qty_sum") - col("pred"))) / sum(col("qty_sum")) * 100)
          .as("wmape_pct"),
        r(sum(col("pred") - col("qty_sum")) / sum(col("qty_sum")) * 100)
          .as("bias_pct"),
        r(avg((col("qty_sum") >= col("lo") && col("qty_sum") <= col("hi"))
          .cast("long"))).as("coverage"))
  }

  /** Monitoring run (reference src/monitoring dashboards +
    * model_diagnostics.py:958-961 thresholds): the three run-health
    * checks — forecast KPI by calendar month (the report-over-time
    * leg), input drift (price PSI vs the reference period), and
    * data-quality rules — composed into ONE tall alert frame
    * (check_name, check_key, metric_value, status). Each leg is the
    * oracle-proven operator behind q96/q137/q192; the composition is
    * itself oracle-backed end-to-end (q200). PSI and rule statuses
    * ladder on the ROUNDED metric so the class cannot flip on
    * summation-order ulps; the KPI ladder compares the unrounded WMAPE
    * exactly as q96 does.
    */
  def monitorRun(spark: SparkSession, sfDir: String,
                 refCut: String = "1996-01-01"): DataFrame = {
    import graft.functions.Funcs.r
    val li = Tables.lineitem(spark, sfDir)
    val scored = li
      .withColumn("__pred",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      .withColumn("__mon", month(col("l_shipdate")))
    val kpi = Metrics
      .wmapeByGroup(scored, Seq("__mon"), col("l_quantity"), col("__pred"))
      .select(lit("kpi_wmape").as("check_name"),
        col("__mon").cast("string").as("check_key"),
        r(col("wmape")).as("metric_value"),
        graft.model.Models.kpiStatus(col("wmape")).as("status"))
    val psi = graft.operators.Decompose
      .psi(li, col("l_shipdate") < lit(java.sql.Timestamp.valueOf(s"$refCut 00:00:00")),
        col("l_extendedprice"), exact = Some(true))
      .agg(r(sum(col("psi_contrib"))).as("metric_value"))
      .select(lit("psi_drift").as("check_name"),
        lit("l_extendedprice").as("check_key"),
        col("metric_value"),
        when(col("metric_value") >= 0.25, "CRIT")
          .when(col("metric_value") >= 0.1, "WARN")
          .otherwise("OK").as("status"))
    val rules = Cleaning.ruleReport(li, Seq(
      "qty_positive" -> (col("l_quantity") > 0),
      "discount_in_range" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1),
      "price_positive" -> (col("l_extendedprice") > 0)))
      .select(lit("rule_violation").as("check_name"),
        col("rule").as("check_key"),
        col("violation_rate").as("metric_value"),
        when(col("violation_rate") >= 0.05, "CRIT")
          .when(col("violation_rate") >= 0.01, "WARN")
          .otherwise("OK").as("status"))
    kpi.unionByName(psi).unionByName(rules)
  }

  /** Composed model-diagnostics run — the engine twin of the
    * reference's diagnostics orchestration (model_diagnostics.py:994
    * main(): drift detection + quality assessment + health report in
    * one call). One tall alert frame in the [[monitorRun]] contract
    * (check_name, check_key, metric_value, status): per-group drift
    * channels (the KS gate → OK/CRIT), the quality scorecard's overall
    * with its letter grade as the status, and the health composite
    * with its alert count driving the ladder (0 → OK, warnings only →
    * WARN, any alert → CRIT). The weekly supplier frame with the
    * naive-lag prediction is built ONCE and localCheckpointed for the
    * three consumers (the house multi-consumer trade). */
  def diagnosticsRun(spark: SparkSession, sfDir: String,
                     refWeeks: Int = 26): DataFrame = {
    import graft.functions.Funcs.r
    val weekly = etl(spark, sfDir)
      .groupBy(col("week_start"), col("l_suppkey"))
      .agg(sum(col("qty_sum")).as("qty_sum"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("week_start"))
    val scored = weekly
      .withColumn("pred", r(lag(col("qty_sum"), 1).over(w)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("pred").isNotNull)
      .localCheckpoint(true)
    val drift = graft.metrics.Diagnostics.driftReport(scored, Nil,
      Seq("target" -> col("qty_sum"),
        "residual" -> (col("qty_sum") - col("pred"))),
      col("__rn") > refWeeks, col("qty_sum"), col("pred"))
      .select(lit("drift").as("check_name"), col("channel").as("check_key"),
        coalesce(col("drift_score"), lit(0.0)).as("metric_value"),
        when(col("drift_detected") === 1, "CRIT").otherwise("OK").as("status"))
    val quality = graft.metrics.Diagnostics.qualityScorecard(
      scored.withColumn("unc", r(abs(col("qty_sum") - col("pred")))),
      Nil, col("qty_sum"), col("pred"), col("unc"), col("pred"),
      Seq(col("l_suppkey"), col("week_start")))
      .select(lit("quality").as("check_name"),
        lit("overall").as("check_key"),
        col("overall_quality").as("metric_value"),
        col("quality_grade").as("status"))
    val health = graft.metrics.Diagnostics.healthReport(
      scored.withColumn("unc", r(abs(col("qty_sum") - col("pred")))),
      Nil, col("qty_sum"), col("pred"), col("unc"), col("__rn") > refWeeks)
      .select(lit("health").as("check_name"), lit("composite").as("check_key"),
        col("health_score").as("metric_value"),
        when(col("n_alerts") > 0, "CRIT")
          .when(col("n_warnings") > 0, "WARN").otherwise("OK").as("status"))
    drift.unionByName(quality).unionByName(health)
  }

  /** §3.2 feature store: the weekly grain plus temporal/agg features,
    * all on the ETL's one product-key shuffle. */
  def featureStore(spark: SparkSession, sfDir: String): DataFrame = {
    val weekly = etl(spark, sfDir)
    val sw = SeriesWindow(Seq(col("l_partkey"), col("l_suppkey")), Seq(col("week_start")))
    val qty = col("qty_sum")
    val withTemporal = weekly
      .withColumn("lag_1", lag(qty, 1).over(sw.w))
      .withColumn("lag_4", lag(qty, 4).over(sw.w))
      .withColumn("roll_mean_4", WindowFeatures.rollingAvg(qty, 4, sw))
      .withColumn("roll_std_4", WindowFeatures.rollingStd(qty, 4, sw))
      .withColumn("momentum_1", WindowFeatures.momentum(qty, 1, sw))
      .withColumn("stability", WindowFeatures.groupStability(qty, sw))
    val withCalendar = (Calendar.dateParts(col("week_start")) ++
      Calendar.seasonFlags(col("week_start")))
      .foldLeft(withTemporal) { case (d, (n, c)) => d.withColumn(n, c) }
    SequentialKernels.withEwma(withCalendar, Seq("l_partkey", "l_suppkey"),
      Seq(col("week_start")), "qty_sum", 0.3, "ewma_03")
  }

  /** §3.2 (wide) — the reference's full-pipeline shape: ~100+ columns
    * from all four feature families, then top-K selection against a
    * leak-free next-week target (feature_pipeline.py:80-186,423-468).
    * The narrow `featureStore` stays as the curated fast path. */
  def featureStoreWide(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    graft.operators.FeatureStore.wideSelected(etl(spark, sfDir),
      Seq("l_partkey", "l_suppkey"), "week_start", "qty_sum", k)

  /** The one tail of the three submission legs: the leg's own
    * post-processing `steps`, then integerize, ship the quantity as a
    * long and write through the validating sink. The returned frame
    * reads the written CSV. */
  private def ship(spark: SparkSession, grid: DataFrame, path: String,
                   steps: PostProcess.Step*): DataFrame =
    Sinks.csvSubmission(spark, PostProcess.chain(steps :+ PostProcess.integerize("quantidade"))(grid)
      .withColumn("quantidade", col("quantidade").cast("long")), path)

  /** The blend's and the champion's post-processing: clip at zero, cap at
    * mean + 5σ. */
  private val clipCap = Seq(PostProcess.nonNegative("quantidade"),
    PostProcess.sigmaCap("quantidade", 5.0))

  /** §3.3 forecast + submission: per-series hurdle×EWMA blend forecast
    * for a 5-week horizon grid, post-processed, validated, written. */
  def forecastSubmission(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val weekly = etl(spark, sfDir)
    // last EWMA state per series = the level forecast (flat extension)
    val ew = SequentialKernels.withEwma(weekly, Seq("l_partkey", "l_suppkey"),
      Seq(col("week_start")), "qty_sum", 0.3, "ewma")
    val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      .orderBy(col("week_start").desc)
    val fc = ew.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("l_partkey"), col("l_suppkey"),
        explode(sequence(lit(1), lit(5))).as("step"), col("ewma").as("forecast"))
    withGrid(fc)(ship(spark, _, s"$outDir/submission", clipCap: _*))
  }

  /** The one grid step of the three submission legs: the per-(series,
    * step) forecast `fc` (l_partkey, l_suppkey, step, forecast) as a
    * submission grid, handed to `use`. Every leg materializes its grid
    * once: post-processing reads it more than once (sigmaCap's mean/σ
    * aggregate and the capped rows; the competitive cap's percentile and
    * the scaled rows), and above the ETL's one exchange there is no
    * shuffle a second read could reuse, so without the checkpoint each
    * read would re-run the ETL tail, the series windows and, for the
    * champion, the member kernels. `fc` itself materializes nothing:
    * the champion's member pass runs inside the grid's one plan. The
    * grid's checkpoint is released when `use` returns, so `use` must
    * return a frame that no longer reads it (the sink's read-back). */
  private def withGrid(fc: DataFrame)(use: DataFrame => DataFrame): DataFrame = {
    val grid = fc.select(col("step").cast("int").as("semana"),
      col("l_suppkey").as("pdv"), col("l_partkey").as("produto"),
      col("forecast").as("quantidade")).localCheckpoint(true)
    try use(grid)
    finally org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoints(grid)
  }

  /** The champion forecast over the weekly grain, 5 steps ahead. */
  private def championFc(spark: SparkSession, sfDir: String): DataFrame =
    graft.seq.Champion.championForecast(etl(spark, sfDir),
      Seq("l_partkey", "l_suppkey"), Seq(col("week_start")), "qty_sum",
      h = 5, m = 13)

  /** §3.3 champion path: per-series model SELECTION drives the
    * submission — [[graft.seq.Champion.championForecast]] (the
    * auto-ARIMA AIC pick over the eight-member closed-form family,
    * reference arima_temporal.py:277-361) replaces the fixed
    * hurdle×EWMA blend, then the SAME post-process + validation +
    * sink discipline as [[forecastSubmission]]. This is the
    * reference's actual per-series loop wired end to end: every
    * series forecasts with whichever family member its own history
    * scores best (length-1 series degrade to the mean member). */
  def championSubmission(spark: SparkSession, sfDir: String, outDir: String): DataFrame =
    withGrid(championFc(spark, sfDir))(
      ship(spark, _, s"$outDir/submission_champion", clipCap: _*))

  /** The competitive adjustment factor for `ourScore` on a (team, score)
    * leaderboard, lower score better (reference
    * submission_pipeline.py:385-404 and leaderboard_analyzer.py): ×1.01
    * in the leader zone (rank 1-3), else ×0.98 when the gap to the
    * 3rd-lowest score is under 2.0, else ×1.0. The zones below the
    * leader's (contender, middle pack, bottom) do not move the factor.
    * The board is dimension-sized: one driver action collects its
    * sorted scores. */
  private[graft] def competitiveFactor(board: DataFrame, ourScore: Double): Double = {
    val scores = board.select(col("score").cast("double").as("s"))
      .filter(col("s").isNotNull).orderBy(col("s")).collect().map(_.getDouble(0))
    // _estimate_rank (leaderboard_analyzer.py:374-379): first board
    // position whose score is >= ours
    val rank = scores.count(_ < ourScore) + 1
    if (rank <= 3) 1.01
    // past the leader zone, the three lowest scores are all below ours
    else if (ourScore - scores(2) < 2.0) 0.98
    else 1.0
  }

  /** Competitive-informed submission (reference
    * submission_pipeline.py:373-404 + the leaderboard_analyzer zone
    * machinery): the champion forecast grid runs the reference's BASIC
    * post-processing (non-negative clip + cap at the predictions' own
    * exact 99.5th percentile, :373-383), then the
    * [[competitiveFactor]] adjustment — then integerize, validate and
    * ship through the same sink discipline. `board` is a (team, score)
    * leaderboard (lower score better); `ourScore` is this pipeline's own
    * score on the same scale. The cap quantile rides the plan as a
    * broadcast 1-row cross join.
    */
  def competitiveSubmission(spark: SparkSession, sfDir: String, outDir: String,
                            board: DataFrame, ourScore: Double): DataFrame = {
    import graft.functions.Funcs.pct
    val factor = competitiveFactor(board, ourScore)
    withGrid(championFc(spark, sfDir)) { grid =>
      val clipped = PostProcess.nonNegative("quantidade")(grid)
      val cap = clipped.agg(pct(col("quantidade"), 0.995).as("__cap"))
      val capped = clipped.crossJoin(broadcast(cap))
        .withColumn("quantidade", least(col("quantidade"), col("__cap")) * lit(factor))
        .drop("__cap")
      ship(spark, capped, s"$outDir/submission_competitive")
    }
  }

  /** Champion-vs-blend backtest — the "which strategy ships?" report.
    * Per-series walk-forward at the supplier grain: each series' last
    * `h` observations are held out, the family fits on the prefix, and
    * three strategies forecast the holdout — (a) the per-series AIC
    * champion pick, (b) the Akaike-weight blend, (c) naive last-value
    * carry (the floor every strategy must beat). One tall row per
    * strategy with the pooled holdout WMAPE and its coverage. Steps
    * are the series' OWN next h observations (the M-competition
    * convention), so sparse series stay aligned by construction;
    * series shorter than h + 1 have no train prefix and drop from all
    * three strategies alike. */
  def championBacktest(spark: SparkSession, sfDir: String, h: Int = 4): DataFrame = {
    val weekly = etl(spark, sfDir)
      .groupBy(col("week_start"), col("l_suppkey"))
      .agg(sum(col("qty_sum")).as("qty_sum"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("week_start"))
    val cw = Window.partitionBy(col("l_suppkey"))
    val tagged = weekly
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .filter(col("__n") > h)
      .localCheckpoint(true)
    val train = tagged.filter(col("__rn") <= col("__n") - h)
      .select("week_start", "l_suppkey", "qty_sum")
    val test = tagged.filter(col("__rn") > col("__n") - h)
      .select(col("l_suppkey"), (col("__rn") - (col("__n") - h)).cast("long").as("step"),
        col("qty_sum").as("actual"))
    // ONE member-pipeline execution serves both strategies
    // (Champion.pickBlendScoreFcs materializes the series-grain table)
    val (champRaw, blendRaw, _, _) = graft.seq.Champion.pickBlendScoreFcs(train,
      Seq("l_suppkey"), Seq(col("week_start")), "qty_sum", h = h, m = 13)
    val champ = champRaw.select(col("l_suppkey"), col("step"), col("forecast"))
    val blend = blendRaw
      .select(col("l_suppkey"), col("step"), col("blend_forecast").as("forecast"))
    val lastW = Window.partitionBy(col("l_suppkey")).orderBy(col("week_start").desc)
    val naive = train.withColumn("__rd", row_number().over(lastW))
      .filter(col("__rd") === 1)
      .select(col("l_suppkey"), col("qty_sum").as("__lv"))
      .withColumn("step", explode(sequence(lit(1L), lit(h.toLong))))
      .select(col("l_suppkey"), col("step"), col("__lv").as("forecast"))
    def leg(name: String, fc: DataFrame): DataFrame =
      test.join(fc, Seq("l_suppkey", "step"))
        .agg(Metrics.wmape(col("actual"), col("forecast")).as("holdout_wmape"),
          count(lit(1)).as("n_points"),
          countDistinct(col("l_suppkey")).as("n_series"))
        .select(lit(name).as("strategy"), col("holdout_wmape"),
          col("n_points"), col("n_series"))
    leg("champion", champ)
      .unionByName(leg("blend", blend))
      .unionByName(leg("naive", naive))
  }

  /** The model paths' input and feature columns: the feature store
    * with `label` = next week's qty_sum per series (rows without a next
    * week drop, NULL features fill to 0). */
  private def labelledFeatures(spark: SparkSession,
                               sfDir: String): (DataFrame, Seq[String]) = {
    val sw = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      .orderBy(col("week_start"))
    (featureStore(spark, sfDir)
      .withColumn("label", lead(col("qty_sum"), 1).over(sw))
      .filter(col("label").isNotNull)
      .na.fill(0.0),
      Seq("qty_sum", "lag_1", "lag_4", "roll_mean_4", "roll_std_4", "momentum_1",
        "stability", "ewma_03", "month", "dow", "quarter", "week_of_year"))
  }

  /** §3.3 model path: GBT trained on the feature store (the MLlib
    * stand-in for the reference's LightGBM), forecasting the NEXT
    * week's quantity from features computed through the current week —
    * the label is lead(qty_sum) per series, so current-row-inclusive
    * rolling/EWMA features are history, not leakage. Walk-forward
    * holdout; returns (model WMAPE, naive carry-forward WMAPE). */
  def gbtForecast(spark: SparkSession, sfDir: String,
                  holdoutWeeks: Int = 4): (Double, Double) = {
    val (features, featCols) = labelledFeatures(spark, sfDir)
    val (_, hi) = graft.cv.TimeSplits.dateBounds(features, col("week_start"))
    val cut = hi.minusWeeks(holdoutWeeks)
    val train = features.filter(col("week_start") <= lit(cut.toString))
    val test = features.filter(col("week_start") > lit(cut.toString))
    val model = graft.model.Models.fitGbt(train, featCols, "label",
      maxIter = 20, maxDepth = 5)
    val scored = graft.model.Models.predictGbt(model, test, featCols)
      .withColumn("prediction", greatest(col("prediction"), lit(0.0)))
    val gbtWmape = scored.agg(Metrics.wmape(col("label"), col("prediction")))
      .head().getDouble(0)
    // naive: carry the EWMA level forward one week
    val naiveWmape = scored.agg(Metrics.wmape(col("label"), col("ewma_03")))
      .head().getDouble(0)
    (gbtWmape, naiveWmape)
  }

  /** Forecast-to-policy inventory plan: per supplier series, the
    * seasonal-naive lead-time demand (L steps of
    * [[graft.seq.Baselines.forecasts]]) plus the z·σ·√L buffer from
    * [[graft.operators.Inventory.safetyStock]] — the order-up-to
    * recommendation the reference's constraint manager
    * (src/models/business_rules.py:71-120) would then clip with
    * MOQ/capacity (compose with [[PostProcess.moqRound]] /
    * [[PostProcess.capacityCap]] for that stage). One weekly spine
    * feeds both legs; the final join is series-keyed.
    */
  def planInventory(spark: SparkSession, sfDir: String,
                    leadPeriods: Int = 2, z: Double = 1.645): DataFrame = {
    val weekly = Enrichment.weeklyAggregate(
      Tables.lineitem(spark, sfDir), col("l_shipdate"),
      Seq(col("l_suppkey")), col("l_quantity"))
    val lead = graft.seq.Baselines
      .forecasts(weekly, Seq("l_suppkey"), col("week_start"), "qty_sum",
        h = leadPeriods, period = 13)
      .groupBy(col("l_suppkey"))
      .agg(graft.functions.Funcs.r(sum(col("snaive_fc"))).as("lead_demand"))
    val buffer = graft.operators.Inventory.safetyStock(weekly,
      Seq("l_suppkey"), "qty_sum", z, leadPeriods)
    lead.join(buffer, Seq("l_suppkey"))
      .select(col("l_suppkey"), col("n"), col("mu"), col("sigma"),
        col("lead_demand"), col("safety_stock"),
        graft.functions.Funcs.r(col("lead_demand") + col("safety_stock"))
          .as("order_target"))
  }

  /** §3.3 stacked path (M12 learned leg, end-to-end): three base
    * forecasters — GBT over the feature store, the EWMA level carry,
    * and the 4-week rolling mean — are combined by a linear meta-model
    * fit on a META window that postdates all base training, then scored
    * on the untouched final holdout. Walk-forward discipline throughout:
    * base-train < meta < holdout, so neither fit ever sees its own
    * evaluation residuals. The stacker is validation-gated: it ships
    * only if it beats every single on the meta window. Returns
    * (selected candidate's holdout WMAPE, best single's holdout WMAPE).
    */
  def stackedForecast(spark: SparkSession, sfDir: String,
                      metaWeeks: Int = 8, holdoutWeeks: Int = 4): (Double, Double) = {
    val (features, featCols) = labelledFeatures(spark, sfDir)
    val (_, hi) = graft.cv.TimeSplits.dateBounds(features, col("week_start"))
    val cutMeta = hi.minusWeeks(metaWeeks + holdoutWeeks)
    val cutSel = hi.minusWeeks(metaWeeks / 2 + holdoutWeeks)
    val cutHold = hi.minusWeeks(holdoutWeeks)
    val train = features.filter(col("week_start") <= lit(cutMeta.toString))
    // the meta window splits again: combiners FIT on the first half and
    // are SELECTED on the second, so no candidate is ever scored on a
    // window it was fit on (scoring the stacker in-sample would always
    // pick it — a 0% training WMAPE says nothing about transfer)
    val metaFit = features.filter(col("week_start") > lit(cutMeta.toString)
      && col("week_start") <= lit(cutSel.toString))
    val metaSel = features.filter(col("week_start") > lit(cutSel.toString)
      && col("week_start") <= lit(cutHold.toString))
    val holdout = features.filter(col("week_start") > lit(cutHold.toString))

    val gbt = graft.model.Models.fitGbt(train, featCols, "label", maxIter = 20, maxDepth = 5)
    def withBases(df: DataFrame): DataFrame =
      graft.model.Models.predictGbt(gbt, df, featCols, "pred_gbt")
        .withColumn("pred_gbt", greatest(col("pred_gbt"), lit(0.0)))
        .withColumn("pred_ewma", col("ewma_03"))
        .withColumn("pred_roll", col("roll_mean_4"))
    val baseCols = Seq("pred_gbt", "pred_ewma", "pred_roll")
    // Two ensemble candidates, both fit on the meta-FIT slice only:
    // unconstrained OLS meta-weights, and the WMAPE-optimal convex
    // blend (whose simplex corners include every single model).
    val metaFitBased = withBases(metaFit)
    val stack = graft.model.Models.fitStacker(metaFitBased, baseCols, "label")
    val (convexW, _) = graft.model.Models.blendSearch(metaFitBased, baseCols, "label")
    def withEnsembles(df: DataFrame): DataFrame =
      graft.model.Models.blend(stack.transform(df), convexW, "convex")
    // Margin-gated selection (the reference's dynamic ensemble keeps a
    // combiner only when it clearly wins on validation): candidates are
    // scored on the meta-SELECT slice, and a LESS constrained combiner
    // only displaces the incumbent if it beats it by >5% relative — a
    // thin out-of-fit edge from an unconstrained fit is exactly what
    // fails to transfer under level shift. Still leak-free: the holdout
    // is untouched until the final score.
    def wmOn(df: DataFrame, c: String) =
      df.agg(Metrics.wmape(col("label"), col(c))).head().getDouble(0)
    val selEval = withEnsembles(withBases(metaSel))
    val selScore = (baseCols ++ Seq("convex", "stacked"))
      .map(c => c -> wmOn(selEval, c)).toMap
    val bestSingle = baseCols.minBy(selScore)
    val chosen = Seq("convex", "stacked").foldLeft(bestSingle) { (inc, cand) =>
      if (selScore(cand) < 0.95 * selScore(inc)) cand else inc
    }
    println(s"[job] ensemble selection-window WMAPEs: " +
      selScore.toSeq.sortBy(_._2).map { case (c, s) => f"$c=$s%.2f" }.mkString(", ") +
      s" -> chosen $chosen")

    val scored = withEnsembles(withBases(holdout))
    (wmOn(scored, chosen), baseCols.map(c => wmOn(scored, c)).min)
  }

  /** The LLM-training-data curation pipeline, end to end: quality
    * filter (Gopher rules) → exact dedup (keep-first) → source mixing
    * to target proportions → sequence packing into token-budget bins;
    * returns the per-source packing summary. Every stage is the
    * oracle-backed operator (q130/q60/q131/q134) — this is the
    * composition a corpus-curation user runs, shaped for 100 TB: the
    * quality+rep stages shuffle on (doc, gram) and doc id, dedup on the
    * text key, mixing never shuffles the corpus, packing is per-source
    * parallel. */
  def curateCorpus(spark: SparkSession, sfDir: String,
                   weights: Map[String, Double],
                   targetFraction: Double = 0.5,
                   budget: Int = 256): DataFrame = {
    import graft.text.{CorpusMix, Dedup, QualityFilter, SequencePack}
    val docs = Tables.documents(spark, sfDir)
    val keepIds = QualityFilter.gopherFilter(docs, "doc_id", "text")
      .filter(col("keep") === 1).select(col("doc_id"))
    val kept = docs.join(keepIds, Seq("doc_id"))
    // mixToTarget consumes the deduped frame three times (per-source
    // counts, the total, the fact filter). NOT checkpointed: AQE's
    // runtime exchange reuse already shares the filter+dedup shuffles
    // across the three consumers (CurateProbe r18 — the mix/pack
    // stages add ~0.4 s over the dedup stage where three full replays
    // would add ~2x the 2.4 s gopher pass), and a checkpoint of the
    // text-carrying corpus measured as a wash at sf0.1 (3.59 s →
    // 3.72 s) while pinning non-reconstructible blocks.
    val deduped = Dedup.exactDedup(kept, "text", Seq(col("doc_id")))
    val mixed = CorpusMix.mixToTarget(deduped, "doc_id", "source", weights, targetFraction)
    SequencePack.bins(mixed, "source", "doc_id", "text", budget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1)
                 else java.nio.file.Files.createTempDirectory("graft_job").toString
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .appName("graft-forecast-job")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val features = featureStore(spark, sfDir)
    Sinks.parquet(features, s"$outDir/feature_store")
    println(s"[job] feature store: ${spark.read.parquet(s"$outDir/feature_store").count()} rows, " +
      s"${features.columns.length} columns -> $outDir/feature_store")

    val submission = forecastSubmission(spark, sfDir, outDir)
    println(s"[job] submission: ${submission.count()} rows -> $outDir/submission (validated)")

    val champion = championSubmission(spark, sfDir, outDir)
    println(s"[job] champion submission: ${champion.count()} rows -> " +
      s"$outDir/submission_champion (validated)")

    // holdout score: last 4 weeks as test, EWMA level from the train prefix
    val weekly = etl(spark, sfDir)
    val (lo, hi) = graft.cv.TimeSplits.dateBounds(weekly, col("week_start"))
    val cut = hi.minusWeeks(4)
    val train = weekly.filter(col("week_start") <= lit(cut.toString))
    val test = weekly.filter(col("week_start") > lit(cut.toString))
    val ewTrain = SequentialKernels.withEwma(train, Seq("l_partkey", "l_suppkey"),
      Seq(col("week_start")), "qty_sum", 0.3, "ewma")
    val lastW = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      .orderBy(col("week_start").desc)
    val level = ewTrain.withColumn("__rn", row_number().over(lastW))
      .filter(col("__rn") === 1).select(col("l_partkey"), col("l_suppkey"), col("ewma"))
    val scored = test.join(level, Seq("l_partkey", "l_suppkey"), "inner")
    Metrics.scorecard(scored, col("qty_sum"), col("ewma")).show(truncate = false)

    val (gbtW, naiveW) = gbtForecast(spark, sfDir)
    println(f"[job] holdout WMAPE: gbt=$gbtW%.2f%% vs naive-ewma=$naiveW%.2f%%")

    val wideStore = featureStoreWide(spark, sfDir, k = 50)
    println(s"[job] wide feature store: ${wideStore.columns.length} selected columns " +
      s"(of ~110 generated), ${wideStore.count()} rows")

    val (stackedW, bestSingleW) = stackedForecast(spark, sfDir)
    println(f"[job] holdout WMAPE: ensemble-selected=$stackedW%.2f%% vs best-single=$bestSingleW%.2f%%")
    spark.stop()
  }
}
