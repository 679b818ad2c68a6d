package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import graft.functions.Funcs.safeDiv
import org.apache.spark.sql.functions._

/** Per-series window/temporal operators W1-W24 (SURVEY §2.5).
  *
  * Everything here shares ONE window spec `partitionBy(keys).orderBy(ord)`
  * — mirroring the reference's `sort_values(keys+date).groupby(keys)`
  * pattern (reference: src/features/temporal_features_engine.py:120-207) —
  * so Spark plans a single shuffle+sort on the series key and reuses the
  * exchange across every derived column (ReuseExchange). That single
  * shuffle is the only fact-sized data movement the whole temporal layer
  * needs, which is what makes it viable at 100 TB.
  *
  * Ordering columns must include a unique tiebreaker for deterministic
  * output (the reference inherits pandas' stable sort; we pin it
  * explicitly).
  */
final case class SeriesWindow(keys: Seq[Column], ord: Seq[Column]) {
  val w: WindowSpec = Window.partitionBy(keys: _*).orderBy(ord: _*)
  def rows(lo: Long, hi: Long): WindowSpec = w.rowsBetween(lo, hi)
  def group: WindowSpec = Window.partitionBy(keys: _*)
}

object WindowFeatures {

  /** W1 — lag features `shift(k)` (reference: temporal_features_engine.py:120-161). */
  def lags(c: Column, ks: Seq[Int], sw: SeriesWindow): Seq[(String, Column)] =
    ks.map(k => s"lag_$k" -> lag(c, k).over(sw.w))

  /** W2 — lag deltas: diff / pct_change / ratio vs a lag
    * (reference: temporal_features_engine.py:143-148). */
  def lagDelta(c: Column, k: Int, sw: SeriesWindow): Column = c - lag(c, k).over(sw.w)
  def lagPctChange(c: Column, k: Int, sw: SeriesWindow): Column =
    safeDiv(c - lag(c, k).over(sw.w), lag(c, k).over(sw.w))
  def lagRatio(c: Column, k: Int, sw: SeriesWindow): Column =
    safeDiv(c, lag(c, k).over(sw.w))

  /** W4 — rolling stats over trailing n rows, min_periods=1 semantics
    * (frame = [-(n-1), 0]; reference: temporal_features_engine.py:179-186). */
  def rollingAvg(c: Column, n: Int, sw: SeriesWindow): Column = avg(c).over(sw.rows(-(n - 1), 0))
  // NaN→NULL: Spark stddev_samp of a 1-row frame is NaN; pandas/SQL = NULL
  def rollingStd(c: Column, n: Int, sw: SeriesWindow): Column =
    graft.functions.Funcs.nanToNull(stddev(c).over(sw.rows(-(n - 1), 0)))
  def rollingMin(c: Column, n: Int, sw: SeriesWindow): Column = min(c).over(sw.rows(-(n - 1), 0))
  def rollingMax(c: Column, n: Int, sw: SeriesWindow): Column = max(c).over(sw.rows(-(n - 1), 0))
  def rollingSum(c: Column, n: Int, sw: SeriesWindow): Column = sum(c).over(sw.rows(-(n - 1), 0))

  /** W5 — rolling coefficient of variation std/mean (reference: :189-194). */
  def rollingCv(c: Column, n: Int, sw: SeriesWindow): Column =
    safeDiv(rollingStd(c, n, sw), rollingAvg(c, n, sw))

  /** W3 — backfill nulls in a (lag) column with the per-group median
    * (reference: temporal_features_engine.py:152-157). Exact percentile
    * over the unbounded group frame for oracle parity. */
  def backfillGroupMedian(c: Column, base: Column, sw: SeriesWindow): Column =
    coalesce(c, percentile(base, lit(0.5)).over(sw.group))

  /** W4 (median leg) — rolling exact median over the trailing n rows. */
  def rollingMedian(c: Column, n: Int, sw: SeriesWindow): Column =
    percentile(c, lit(0.5)).over(sw.rows(-(n - 1), 0))

  /** W4+ — rolling exact quantile over the trailing n rows (the
    * [[rollingMedian]] generalization; `percentile` interpolates
    * linearly, matching quantile_cont semantics). */
  def rollingQuantile(c: Column, q: Double, n: Int, sw: SeriesWindow): Column =
    percentile(c, lit(q)).over(sw.rows(-(n - 1), 0))

  /** Rolling Tukey-fence outlier flag: the point sits outside
    * [p25 − k·IQR, p75 + k·IQR] of its OWN trailing window — the
    * rolling-quartile anomaly screen (the windowed twin of the global
    * quantile-range filter F4). Fences round through
    * [[graft.functions.Funcs.r]] before the comparison so an
    * interpolated boundary cannot flip the flag across engines.
    * Returns (p25, p75, flag) columns to select as needed. */
  def rollingIqrFences(c: Column, n: Int, k: Double,
                       sw: SeriesWindow): (Column, Column, Column) = {
    val p25 = graft.functions.Funcs.r(rollingQuantile(c, 0.25, n, sw))
    val p75 = graft.functions.Funcs.r(rollingQuantile(c, 0.75, n, sw))
    val iqr = p75 - p25
    val flag = c < p25 - lit(k) * iqr || c > p75 + lit(k) * iqr
    (p25, p75, flag)
  }

  /** W6 — rolling skewness over the trailing n rows (reference: :197-201). */
  def rollingSkew(c: Column, n: Int, sw: SeriesWindow): Column =
    graft.functions.Funcs.nanToNull(skewness(c).over(sw.rows(-(n - 1), 0)))

  /** W7 — rolling OLS slope over the trailing n rows via the closed form
    * (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) with x = row position
    * (reference `polyfit(range(n), y, 1)[0]`,
    * temporal_features_engine.py:204-207,332-342). Pure windowed sums —
    * no UDAF, stays in codegen.
    *
    * Spark's analyzer rejects a window expression inside another window
    * function's arguments, so the x = row_number column is materialized
    * first and the frame sums run over it in a second projection — same
    * single shuffle (both windows share the series partitioning).
    */
  def withRollingSlope(df: DataFrame, valueCol: String, n: Int, sw: SeriesWindow,
                       outCol: String): DataFrame = {
    val f = sw.rows(-(n - 1), 0)
    val x = col("__x")
    val c = col(valueCol)
    df.withColumn("__x", row_number().over(sw.w).cast("double"))
      .withColumn(outCol, {
        val cnt = count(c).over(f).cast("double")
        val sx = sum(x).over(f)
        val sy = sum(c).over(f)
        val sxy = sum(x * c).over(f)
        val sxx = sum(x * x).over(f)
        val den = cnt * sxx - sx * sx
        when(den > 0, (cnt * sxy - sx * sy) / den)
      })
      .drop("__x")
  }

  /** W8 — rolling lag-1 autocorrelation via windowed corr
    * (reference: temporal_features_engine.py:211-215). The lag column is
    * materialized first (same window-in-window constraint as W7). */
  def withRollingAutocorr1(df: DataFrame, valueCol: String, n: Int, sw: SeriesWindow,
                           outCol: String): DataFrame =
    df.withColumn("__lag1", lag(col(valueCol), 1).over(sw.w))
      .withColumn(outCol, graft.functions.Funcs.nanToNull(
        corr(col(valueCol), col("__lag1")).over(sw.rows(-(n - 1), 0))))
      .drop("__lag1")

  /** Rolling Pearson correlation of two columns over a trailing frame,
    * from explicit windowed sums (the sufficient-statistic form is
    * engine-portable, unlike Welford-pass `corr`; both factors under the
    * sqrt are guarded so a constant window yields NULL, not NaN). */
  def rollingCorr(x: Column, y: Column, n: Int, sw: SeriesWindow): Column = {
    val f = sw.rows(-(n - 1), 0)
    val cnt = count(when(x.isNotNull && y.isNotNull, lit(1))).over(f).cast("double")
    val sx = sum(x).over(f)
    val sy = sum(y).over(f)
    val sxy = sum(x * y).over(f)
    val sxx = sum(x * x).over(f)
    val syy = sum(y * y).over(f)
    val vx = cnt * sxx - sx * sx
    val vy = cnt * syy - sy * sy
    when(vx > 0 && vy > 0, (cnt * sxy - sx * sy) / sqrt(vx * vy))
  }

  /** W15 — trend acceleration: first difference of the rolling slope
    * (reference: temporal_features_engine.py:344-347). */
  def withTrendAccel(df: DataFrame, valueCol: String, n: Int, sw: SeriesWindow,
                     outCol: String): DataFrame =
    withRollingSlope(df, valueCol, n, sw, "__slope")
      .withColumn(outCol, col("__slope") - lag(col("__slope"), 1).over(sw.w))
      .drop("__slope")

  /** W12 — momentum pct_change over period p (reference: :350-353). */
  def momentum(c: Column, p: Int, sw: SeriesWindow): Column =
    safeDiv(c, lag(c, p).over(sw.w)) - lit(1.0)

  /** W14 — whole-group stability mean/(std+ε) (reference: :364-368). */
  def groupStability(c: Column, sw: SeriesWindow): Column =
    safeDiv(avg(c).over(sw.group), graft.functions.Funcs.nanToNull(stddev(c).over(sw.group)))

  /** W11 — Fourier terms sin/cos(2πk·t/period) (reference: :283-313). */
  def fourierTerms(daysSinceEpoch: Column, periods: Seq[Double], maxK: Int): Seq[(String, Column)] =
    for {
      p <- periods
      k <- 1 to maxK
      (nm, f) <- Seq(
        (s"sin_${p.toInt}_$k", sin(lit(2 * math.Pi * k) * daysSinceEpoch / lit(p))),
        (s"cos_${p.toInt}_$k", cos(lit(2 * math.Pi * k) * daysSinceEpoch / lit(p))))
    } yield (nm, f)

  /** W17 — consecutive-zero streak islands via the gaps-and-islands
    * double-row_number trick (reference computes run lengths with a
    * Python groupby-apply, behavioral_features_engine.py:91-132; here it
    * is pure window algebra on the SAME series shuffle).
    * Returns one row per zero-run with its length.
    */
  def zeroStreaks(df: DataFrame, keys: Seq[Column], ord: Seq[Column], qty: Column,
                  outKeys: Seq[String]): DataFrame = {
    val sw = SeriesWindow(keys, ord)
    val flagged = df.withColumn("__zero", (qty <= 0).cast("int"))
      .withColumn("__rn", row_number().over(sw.w))
    val zw = Window.partitionBy((keys :+ col("__zero")): _*).orderBy(ord: _*)
    flagged.withColumn("__island", col("__rn") - row_number().over(zw))
      .filter(col("__zero") === 1)
      .groupBy((outKeys.map(col) :+ col("__island")): _*)
      .agg(count(lit(1)).as("streak_len"))
      .drop("__island")
  }

  /** W17 (rollup leg) — per-series max/avg/count of zero-run lengths
    * (reference: behavioral_features_engine.py:91-132 returns these three
    * stats per (product, store)). */
  def zeroStreakStats(df: DataFrame, keys: Seq[Column], ord: Seq[Column], qty: Column,
                      outKeys: Seq[String]): DataFrame =
    zeroStreaks(df, keys, ord, qty, outKeys)
      .groupBy(outKeys.map(col): _*)
      .agg(
        max(col("streak_len")).as("max_zero_streak"),
        avg(col("streak_len")).as("avg_zero_streak"),
        count(lit(1)).as("n_zero_streaks"))

  /** W18 — inter-purchase gaps: days between consecutive non-zero rows
    * (reference: behavioral_features_engine.py:135-168). */
  def interPurchaseGapDays(date: Column, sw: SeriesWindow): Column =
    datediff(date, lag(date, 1).over(sw.w))

  /** W19 (stage leg) — 4-way lifecycle stage from age / recency vs the
    * dataset max date (reference: behavioral_features_engine.py:239-253). */
  def lifecycleStage(ageDays: Column, daysSinceLast: Column): Column =
    when(daysSinceLast > 90, "discontinued")
      .when(ageDays <= 30, "new")
      .when(ageDays <= 180, "growth")
      .otherwise("mature")

  /** W16 — seasonal group means, fit/transform split: a small stats table
    * (mean per keys×seasonal bucket) broadcast-joined back with a global
    * fallback (reference: src/features/temporal.py:225-305). */
  def seasonalGroupMeans(df: DataFrame, keys: Seq[String], bucket: Column, value: Column,
                         outCol: String): DataFrame = {
    val withB = df.withColumn("__bucket", bucket)
    val stats = withB.groupBy((keys :+ "__bucket").map(col): _*).agg(avg(value).as("__smean"))
    val glob = withB.agg(avg(value).as("__gmean"))
    withB.join(broadcast(stats), keys :+ "__bucket", "left")
      .join(broadcast(glob))
      .withColumn(outCol, coalesce(col("__smean"), col("__gmean")))
      .drop("__bucket", "__smean", "__gmean")
  }

  /** W20 — growth trend over the trailing-n tail only: the W7 kernel
    * restricted to each series' last n rows
    * (reference: behavioral_features_engine.py:258-285). Emits one row per
    * series (keys + slope over the tail). */
  def tailSlope(df: DataFrame, keys: Seq[Column], ord: Seq[Column], valueCol: String,
                n: Int, outKeys: Seq[String]): DataFrame = {
    val sw = SeriesWindow(keys, ord)
    val revOrd = ord.map(_.desc)
    val rev = Window.partitionBy(keys: _*).orderBy(revOrd: _*)
    val c = col(valueCol)
    val x = col("__x")
    df.withColumn("__revrn", row_number().over(rev))
      .filter(col("__revrn") <= n)
      .withColumn("__x", row_number().over(sw.w).cast("double"))
      .groupBy(outKeys.map(col): _*)
      .agg(
        count(c).cast("double").as("__n"),
        sum(x).as("__sx"), sum(c).as("__sy"),
        sum(x * c).as("__sxy"), sum(x * x).as("__sxx"))
      .withColumn(s"tail${n}_slope",
        when(col("__n") * col("__sxx") - col("__sx") * col("__sx") > 0,
          (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__n") * col("__sxx") - col("__sx") * col("__sx"))))
      .drop("__n", "__sx", "__sy", "__sxy", "__sxx")
  }

  /** W22 — rolling 7-row average price + promo flag: price below
    * 0.9×rolling average marks a promotion
    * (reference: business_features_engine.py:196-222). */
  def promoFlag(price: Column, n: Int, sw: SeriesWindow, threshold: Double = 0.9): Column =
    (price < rollingAvg(price, n, sw) * threshold).cast("int")

  /** W21 — recent-vs-historical ratio: mean of the last quartile of rows
    * vs mean of the first three quartiles, per series
    * (reference: behavioral_features_engine.py:308-334). */
  def recentVsHistorical(df: DataFrame, keys: Seq[Column], ord: Seq[Column], c: Column,
                         outKeys: Seq[String]): DataFrame = {
    val sw = SeriesWindow(keys, ord)
    df.withColumn("__q", ntile(4).over(sw.w))
      .groupBy(outKeys.map(col): _*)
      .agg(
        avg(when(col("__q") === 4, c)).as("recent_mean"),
        avg(when(col("__q") =!= 4, c)).as("hist_mean"))
      .withColumn("recent_ratio", safeDiv(col("recent_mean"), col("hist_mean")))
      .withColumn("is_declining", (col("recent_ratio") < 0.8).cast("int"))
  }

  /** W23 — growth cap post-processing: pred ≤ capMult × previous pred per
    * series (reference: src/submissions/post_processor.py:135-163). */
  def growthCap(pred: Column, capMult: Double, sw: SeriesWindow): Column = {
    val prev = lag(pred, 1).over(sw.w)
    when(prev.isNotNull && prev > 0, least(pred, prev * capMult)).otherwise(pred)
  }

  /** W24 — centered moving-average smoothing of a prediction sequence
    * (reference: src/models/business_rules.py:231-294). */
  def smooth(pred: Column, k: Int, sw: SeriesWindow): Column =
    avg(pred).over(sw.rows(-k, k))

  /** W25 — sliding sequence windows as ArrayType (LSTM input prep,
    * reference: src/models/lstm_temporal.py:199-295). */
  def slidingWindow(c: Column, n: Int, sw: SeriesWindow): Column =
    collect_list(c).over(sw.rows(-(n - 1), 0))

  /** Skew-proof rolling aggregates: coarse-bucket PARTIAL aggregation,
    * then the window over partials — the r14 SkewProbe's documented
    * mitigation for raw-row windows, shipped as an operator (r14
    * verdict ask #3). A window partition is ONE task, so a planted hot
    * key drags a raw-row rolling window into a 3× straggler that AQE
    * cannot split (AQE handles join/agg skew, not window partitions).
    * Aggregating to (key, bucket) partials FIRST absorbs the row skew
    * map-side exactly like the spine's weekly grain: per-series window
    * depth is then bounded by the CALENDAR (bucket count), not the row
    * count, so the hot key costs the same as any other series.
    *
    * Semantics: one row per (keys, bucket) with the decomposable
    * aggregates over the trailing `nBuckets` bucket VALUES —
    * `rangeBetween(-(nBuckets-1), 0)` on the bucket, so calendar gaps
    * shorten the frame exactly as they would for a raw-row range
    * window (this IS the raw-row time-range window evaluated at bucket
    * grain; sum/count/avg/min/max decompose losslessly through the
    * partial — rank/median-style measures do not and stay on the raw
    * path). Partials use exact micro-int sums so the only float
    * accumulation is over ≤ nBuckets ordered partials — deterministic
    * and oracle-replayable.
    *
    * @param keys   simple named key columns (the series identity)
    * @param bucket integral coarse-time column (weeks/days since
    *               epoch); cast to long and returned as `bucket`
    */
  def partialedRolling(df: DataFrame, keys: Seq[Column], bucket: Column,
                       value: Column, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    import graft.functions.Funcs.{microSum, r}
    val partials = df.groupBy((keys :+ bucket.cast("long").as("bucket")): _*)
      .agg(microSum(value).as("__psum"),
        count(value).as("__pcnt"),
        min(value).as("__pmin"),
        max(value).as("__pmax"))
    val w = Window.partitionBy(keys: _*).orderBy(col("bucket"))
      .rangeBetween(-(nBuckets - 1).toLong, 0L)
    // roll_avg divides the ROUNDED rolling sum by the exact count (the
    // q111 device): both engines then divide bit-identical inputs, so
    // knife-edge 4dp rounding cannot split on window-accumulation order
    partials.select((keys :+ col("bucket")) ++ Seq(
      r(sum(col("__psum")).over(w)).as("roll_sum"),
      sum(col("__pcnt")).over(w).as("roll_cnt"),
      r(r(sum(col("__psum")).over(w)) / sum(col("__pcnt")).over(w)).as("roll_avg"),
      min(col("__pmin")).over(w).as("roll_min"),
      max(col("__pmax")).over(w).as("roll_max")): _*)
  }
}
