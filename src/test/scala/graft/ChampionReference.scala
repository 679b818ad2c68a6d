package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs.{microMean, r}

/** Parity reference for [[graft.seq.Champion]]: the member machinery it
  * replaced, kept verbatim. Each member here is TWO pipelines — a
  * score pipeline feeding the AIC scoreboard (keys…, model, __mrank,
  * __k, sse, neff, aic) and a separate forecaster feeding the forecast
  * union (keys…, model, step, forecast) — and the consumers join the
  * two on (keys, model). ChampionSpec pins every Champion consumer to
  * these tails row for row. */
object ChampionReference {

  private def sqSum(resid: Column): Column =
    r(graft.functions.Funcs.microSumSq(resid))

  def memberTables(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                           valueCol: String, h: Int, m: Int,
                           alpha: Double, beta: Double,
                           damp: Double): (DataFrame, DataFrame, DataFrame) = {
    require(h >= 1 && h <= m, "horizon must lie in [1, m]")
    val keys = keyCols.map(col)
    val x = col(valueCol).cast("double")
    val src = df.localCheckpoint(true)
    val wAsc = Window.partitionBy(keys: _*).orderBy(ordCols: _*)
    val counts = src.groupBy(keys: _*).agg(count(lit(1)).as("__n"))

    def tag(d: DataFrame, name: String, rank: Int, k: Int): DataFrame =
      d.select(keys ++ Seq(lit(name).as("model"), lit(rank).as("__mrank"),
        lit(k.toDouble).as("__k"), col("sse"), col("neff")): _*)

    def fcTag(d: DataFrame, name: String): DataFrame =
      d.select(keys ++ Seq(lit(name).as("model"), col("step").cast("long").as("step"),
        col("forecast")): _*)

    def explodeSteps(d: DataFrame, steps: Seq[Column]): DataFrame =
      d.select(keys :+ explode(array(steps.zipWithIndex.map { case (f, i) =>
        struct(lit(i + 1L).as("step"), f.as("forecast"))
      }: _*)).as("__e"): _*)
        .select(keys ++ Seq(col("__e.step").as("step"),
          col("__e.forecast").as("forecast")): _*)

    // ---- mean_naive: rounded exact mean, flat forecast
    val muT = src.groupBy(keys: _*).agg(r(microMean(x)).as("__mu"))
    val meanScore = tag(src.join(muT, keyCols)
      .withColumn("__res", x - col("__mu"))
      .groupBy(keys: _*).agg(sqSum(col("__res")).as("sse"),
        count(lit(1)).cast("double").as("neff")), "mean_naive", 0, 1)
    val meanFc = fcTag(explodeSteps(muT, (1 to h).map(_ => col("__mu"))),
      "mean_naive")

    // ---- snaive: last season's value, both as fit and as forecast
    val snLag = src.withColumn("__lm", lag(x, m).over(wAsc))
      .withColumn("__rn", row_number().over(wAsc))
    val snScore = tag(snLag.filter(col("__lm").isNotNull)
      .withColumn("__res", x - col("__lm"))
      .groupBy(keys: _*).agg(sqSum(col("__res")).as("sse"),
        count(lit(1)).cast("double").as("neff")), "snaive", 1, 0)
    val snFc = fcTag(snLag.join(counts, keyCols)
      .filter(col("__rn") > col("__n") - m && col("__rn") <= col("__n") - m + h)
      .select(keys ++ Seq((col("__rn") - (col("__n") - m)).as("step"),
        r(x).as("forecast")): _*), "snaive")

    // ---- ar2: the OLS fit's own rounded one-step predictions
    val arFit = graft.seq.Ar.fitted(src, keyCols, ordCols, valueCol)
    val arScore = tag(arFit.filter(col("ar_fitted").isNotNull)
      .withColumn("__res", x - col("ar_fitted"))
      .groupBy(keys: _*).agg(sqSum(col("__res")).as("sse"),
        count(lit(1)).cast("double").as("neff"))
      .filter(col("neff") >= 3), "ar2", 2, 3)
    val arFc = fcTag(graft.seq.Ar.forecast(src, keyCols, ordCols, valueCol, h)
      .withColumnRenamed("ar_forecast", "forecast"), "ar2")

    // ---- ari: AR(2) on first differences; the one-step residual on
    // the original scale equals the diff-scale residual
    // (x_t − (x_{t−1} + d̂_t) = Δx_t − d̂_t), so the diff fit scores it
    val dif = src.withColumn("__d", x - lag(x, 1).over(wAsc))
      .filter(col("__d").isNotNull)
    val ariScore = tag(graft.seq.Ar.fitted(dif, keyCols, ordCols, "__d")
      .filter(col("ar_fitted").isNotNull)
      .withColumn("__res", col("__d") - col("ar_fitted"))
      .groupBy(keys: _*).agg(sqSum(col("__res")).as("sse"),
        count(lit(1)).cast("double").as("neff"))
      .filter(col("neff") >= 3), "ari", 3, 3)
    val ariFc = fcTag(graft.seq.Ar.forecastIntegrated(src, keyCols, ordCols, valueCol, h)
      .withColumnRenamed("ari_forecast", "forecast"), "ari")

    // ---- ma1: the CLS grid fold's own SSE; forecast μ + θ·ε_n then flat
    val maFull = graft.seq.SequentialKernels.fitMa1Full(src, keyCols, ordCols, valueCol)
    val maScore = tag(maFull.join(counts, keyCols).filter(col("__n") >= 2)
      .select(keys ++ Seq(col("ma1_sse").as("sse"),
        col("__n").cast("double").as("neff")): _*), "ma1", 4, 2)
    val maFc = fcTag(explodeSteps(maFull, (1 to h).map { s =>
      if (s == 1) r(col("ma1_mu") + col("ma1_theta") * col("ma1_eps_last"))
      else r(col("ma1_mu"))
    }), "ma1")

    // ---- arma11: the (φ,θ) grid fold's own SSE (conditioned on t ≥ 2)
    val armaFull = graft.seq.SequentialKernels.fitArma11Full(src, keyCols, ordCols, valueCol)
    val armaScore = tag(armaFull.join(counts, keyCols).filter(col("__n") >= 3)
      .select(keys ++ Seq(col("arma_sse").as("sse"),
        (col("__n") - 1).cast("double").as("neff")): _*), "arma11", 5, 3)
    val armaSteps = (1 to h).foldLeft(Vector.empty[Column]) { (acc, s) =>
      val f =
        if (s == 1) r(col("arma_mu") + col("arma_phi") * col("arma_xc_last") +
          col("arma_theta") * col("arma_eps_last"))
        else r(col("arma_mu") + col("arma_phi") * (acc(s - 2) - col("arma_mu")))
      acc :+ f
    }
    val armaFc = fcTag(explodeSteps(armaFull, armaSteps), "arma11")

    // ---- theta: scored on its honest one-step prediction (the
    // reference's fittedvalues convention — no peek at x_t). From
    // ŷ_t = ½·l_t + ½·ses_{t−1} and ses_{t−1} = 2·fitted_{t−1} −
    // l_{t−1}, the prediction collapses to fitted_{t−1} + b/2.
    val thFit = graft.seq.Theta.fitted(src, keyCols, ordCols, valueCol, alpha)
    val thScore = tag(thFit
      .withColumn("__pf", lag(col("theta_fitted"), 1).over(wAsc))
      .filter(col("__pf").isNotNull)
      .withColumn("__res", x - r(col("__pf") + col("theta_b") / 2))
      .groupBy(keys: _*).agg(sqSum(col("__res")).as("sse"),
        count(lit(1)).cast("double").as("neff")), "theta", 6, 2)
    val thFc = fcTag(graft.seq.Theta.forecast(src, keyCols, ordCols, valueCol, alpha, h)
      .withColumnRenamed("theta_forecast", "forecast"), "theta")

    // ---- holt_damped: one-step x̂_t = l_{t−1} + φ_d·b_{t−1} (defined
    // once the trend exists, t ≥ 3), damped extrapolation beyond
    val holt = graft.seq.SequentialKernels.withHolt(src, keyCols, ordCols, valueCol,
      alpha, beta)
    val holtScore = tag(holt
      .withColumn("__pl", lag(col("holt_level"), 1).over(wAsc))
      .withColumn("__pt", lag(col("holt_trend"), 1).over(wAsc))
      .filter(col("__pt").isNotNull)
      .withColumn("__res", x - r(col("__pl") + lit(damp) * col("__pt")))
      .groupBy(keys: _*).agg(sqSum(col("__res")).as("sse"),
        count(lit(1)).cast("double").as("neff")), "holt_damped", 7, 2)
    val holtFc = fcTag(graft.seq.SequentialKernels.dampedHoltForecast(src, keyCols,
      ordCols, valueCol, alpha, beta, damp, h)
      .withColumnRenamed("holt_forecast", "forecast"), "holt_damped")

    // ---- scoreboard → AIC (the pick/average happens in the consumers)
    val scores = Seq(meanScore, snScore, arScore, ariScore, maScore,
      armaScore, thScore, holtScore).reduce(_ unionByName _)
      .filter(col("sse").isNotNull && col("neff") >= 1)
    val aic = scores.withColumn("aic",
      r(col("neff") * log(greatest(col("sse"), lit(1e-8)) / col("neff")) +
        lit(2.0) * col("__k")))
    val fcs = Seq(meanFc, snFc, arFc, ariFc, maFc, armaFc, thFc, holtFc)
      .reduce(_ unionByName _)
    // src rides along so a caller that re-materializes aic/fcs can
    // unpersist the source checkpoint — Spark pins persisted RDDs in
    // SparkContext.persistentRdds (strong refs), so an intermediate
    // localCheckpoint left behind leaks for the JVM's life
    (aic, fcs, src)
  }

  /** Argmin tail over already-built member tables. */
  def pickFrom(aic: DataFrame, fcs: DataFrame,
                       keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val wPick = Window.partitionBy(keys: _*).orderBy(col("aic"), col("__mrank"))
    val champ = aic.withColumn("__rk", row_number().over(wPick))
      .filter(col("__rk") === 1)
      .select(keys ++ Seq(col("model"), col("aic")): _*)
    champ.join(fcs, keyCols :+ "model")
      .select(keys ++ Seq(col("model").as("champion"), col("aic"),
        col("step"), col("forecast")): _*)
  }

  /** Scoreboard tail over an already-built member score table. */
  def scoreboardFrom(aic: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col("aic"), col("__mrank"))
    aic.withColumn("rank", row_number().over(w).cast("long"))
      .select(keys ++ Seq(col("model"), col("__k").as("k"), col("sse"),
        col("neff").as("n_eff"), col("aic"), col("rank")): _*)
  }

  /** Akaike-weight tail over already-built member tables. */
  def blendFrom(aic: DataFrame, fcs: DataFrame,
                        keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    // Δ via a window-min, NOT a groupBy+join-back: the join shape
    // consumes the scoreboard twice and re-executes all eight member
    // score pipelines (measured +3s at sf0.1); the window keeps one
    // consumer on the series-key partitioning the scoreboard already has
    val wts = aic
      .withColumn("__amin", min(col("aic")).over(Window.partitionBy(keys: _*)))
      .withColumn("__w", r(exp((col("__amin") - col("aic")) / 2)))
      .select(keys ++ Seq(col("model"), col("__w")): _*)
    fcs.join(wts, keyCols :+ "model")
      .groupBy(keys :+ col("step"): _*)
      .agg(
        (sum(graft.expr.RoundHalfUpExpr.column(col("__w") * lit(1e4)).cast("long") *
          graft.expr.RoundHalfUpExpr.column(col("forecast") * lit(1e4)).cast("long"))
          .cast("double") / lit(1e8)).as("__num"),
        (sum(graft.expr.RoundHalfUpExpr.column(col("__w") * lit(1e4)).cast("long"))
          .cast("double") / lit(1e4)).as("__den"),
        count(lit(1)).as("n_members"))
      .select(keys ++ Seq(col("step"),
        r(col("__num") / col("__den")).as("blend_forecast"),
        col("n_members")): _*)
  }

  def championForecast(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                       valueCol: String, h: Int = 4, m: Int = 13,
                       alpha: Double = 0.3, beta: Double = 0.1,
                       damp: Double = 0.9): DataFrame = {
    val (aic, fcs, _) = memberTables(df, keyCols, ordCols, valueCol, h, m,
      alpha, beta, damp)
    pickFrom(aic, fcs, keyCols)
  }

  def blendForecast(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                    valueCol: String, h: Int = 4, m: Int = 13,
                    alpha: Double = 0.3, beta: Double = 0.1,
                    damp: Double = 0.9): DataFrame = {
    val (aic, fcs, _) = memberTables(df, keyCols, ordCols, valueCol, h, m,
      alpha, beta, damp)
    blendFrom(aic, fcs, keyCols)
  }

  def scoreboard(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                 valueCol: String, h: Int = 4, m: Int = 13,
                 alpha: Double = 0.3, beta: Double = 0.1,
                 damp: Double = 0.9): DataFrame = {
    val (aic, _, _) = memberTables(df, keyCols, ordCols, valueCol, h, m,
      alpha, beta, damp)
    scoreboardFrom(aic, keyCols)
  }

  /** (pick, blend, scoreboard, forecast union), as
    * Champion.pickBlendScoreFcs returns them. */
  def pickBlendScoreFcs(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                        valueCol: String, h: Int = 4, m: Int = 13,
                        alpha: Double = 0.3, beta: Double = 0.1,
                        damp: Double = 0.9): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (aic, fcs, _) = memberTables(df, keyCols, ordCols, valueCol, h, m,
      alpha, beta, damp)
    (pickFrom(aic, fcs, keyCols), blendFrom(aic, fcs, keyCols),
      scoreboardFrom(aic, keyCols), fcs)
  }
}
