package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.seq.{Champion, OrderSearch, SequentialKernels}

class OrderSearchSpec extends SparkSpec {
  import spark.implicits._

  private def series(rows: (String, Int, java.lang.Double)*) =
    rows.toSeq.toDF("k", "t", "v")

  /** The extended (board, fcs) of series `g` ordered by `t`, built the
    * way the registered queries build it: the family frames, the fit
    * bases and the seasonal fits, widened by [[OrderSearch.extendedFrom]]. */
  private def extended(df: DataFrame, h: Int, m: Int): (DataFrame, DataFrame) = {
    val (keys, ord) = (Seq("g"), Seq(col("t")))
    val (_, _, famBoard, famFcs) = Champion.pickBlendScoreFcs(df, keys, ord, "v",
      h = h, m = m)
    val (d2base, a21base, a22base, lastLevel) = OrderSearch.extFitBases(df, keys, ord, "v")
    OrderSearch.extendedFrom(famBoard, famFcs, d2base, a21base, a22base, lastLevel,
      OrderSearch.sarima011Full(df, keys, ord, "v", m),
      OrderSearch.sarma11Full(df, keys, ord, "v", m), df, keys, ord, "v", h, m)
  }

  test("ARMA(2,1) CLS fold matches the hand-computed recursion for one triple") {
    // series 10,14,8,12,16 → μ = 12; centered −2,2,−4,0,4.
    // For (φ1, φ2, θ) = (0.5, 0.3, 0.4): ε_1 = ε_2 = 0 (conditioned),
    // ε_3 = −4 − 0.5·2 − 0.3·(−2) − 0.4·0 = −4.4
    // ε_4 = 0 − 0.5·(−4) − 0.3·2 − 0.4·(−4.4) = 3.16
    // ε_5 = 4 − 0.5·0 − 0.3·(−4) − 0.4·3.16 = 3.936
    // SSE = 4.4² + 3.16² + 3.936² = 19.36 + 9.9856 + 15.492096
    val df = series(("a", 1, 10.0), ("a", 2, 14.0), ("a", 3, 8.0),
      ("a", 4, 12.0), ("a", 5, 16.0))
    val expSse = 4.4 * 4.4 + 3.16 * 3.16 + 3.936 * 3.936
    for (arrayFits <- Seq(true, false)) {
      val out = SequentialKernels.fitArma21Full(inFitsShape(df, arrayFits), Seq("k"),
          Seq(col("t")), "v", phi1Grid = Seq(0.5), phi2Grid = Seq(0.3), thetaGrid = Seq(0.4))
        .select("arma2_sse", "arma2_neff", "arma2_eps_last",
          "arma2_xc_last", "arma2_xc_prev")
        .as[(Double, Double, Double, Double, Double)].head()
      assert(math.abs(out._1 - expSse) < 1e-4, s"arrayFits=$arrayFits")
      assert(out._2 == 3.0, s"arrayFits=$arrayFits") // three SSE terms (t = 3..5)
      assert(math.abs(out._3 - 3.936) < 1e-12, s"arrayFits=$arrayFits")
      assert(out._4 == 4.0 && out._5 == 0.0, s"arrayFits=$arrayFits")
    }
  }

  test("ARMA(2,1) grid pick is deterministic and per-series independent") {
    // AR(2)-ish series x_t = 0.9·x_{t−1} rides the φ1 = 0.9 grid point;
    // a second white-ish series must keep its own state and pick
    val a = Seq.iterate(10.0, 12)(x => 0.9 * x).zipWithIndex
      .map { case (v, i) => ("a", i + 1, java.lang.Double.valueOf(v)) }
    val b = Seq(5.0, -5.0, 5.0, -5.0, 5.0, -5.0).zipWithIndex
      .map { case (v, i) => ("b", i + 1, java.lang.Double.valueOf(v)) }
    val out = SequentialKernels.fitArma21Full((a ++ b).toDF("k", "t", "v"),
      Seq("k"), Seq(col("t")), "v")
      .select("k", "arma2_phi1").as[(String, Double)].collect().toMap
    assert(out("a") == 0.9)
    // the alternating series is anti-correlated at lag 1
    assert(out("b") == -0.5)
  }

  test("ARIMA(0,2,1): double integration extends a quadratic exactly") {
    // x_t = t² → Δx = 3,5,7,9, Δ²x = 2,2,2 (constant): μ = 2, every θ
    // ties at the ε chain of the centered zeros → θ = −0.8 (smallest),
    // all f^Δ² = μ = 2, so the forecast continues the quadratic:
    // Δŷ = 11,13,15 → ŷ = 36,49,64
    val df = series((1 to 5).map(t => ("a", t, java.lang.Double.valueOf(t * t))): _*)
    val out = OrderSearch.arima021ForecastFrom(
      OrderSearch.arima021Full(df, Seq("k"), Seq(col("t")), "v"), Seq("k"), h = 3)
      .orderBy("step").select("step", "arima_forecast")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 36.0), (2L, 49.0), (3L, 64.0)))
  }

  test("ARMA(2,2) CLS fold matches the hand-computed recursion for one quadruple") {
    // series 10,14,8,12,16 → μ = 12; centered −2,2,−4,0,4.
    // For (φ1, φ2, θ1, θ2) = (0.5, 0.3, 0.4, 0.3): ε_1 = ε_2 = 0,
    // ε_3 = −4 − 0.5·2 − 0.3·(−2) − 0.4·0 − 0.3·0 = −4.4
    // ε_4 = 0 − 0.5·(−4) − 0.3·2 − 0.4·(−4.4) − 0.3·0 = 3.16
    // ε_5 = 4 − 0.5·0 − 0.3·(−4) − 0.4·3.16 − 0.3·(−4.4) = 5.256
    // SSE = 4.4² + 3.16² + 5.256²
    val df = series(("a", 1, 10.0), ("a", 2, 14.0), ("a", 3, 8.0),
      ("a", 4, 12.0), ("a", 5, 16.0))
    val e5 = 4.0 - 0.3 * (-4.0) - 0.4 * 3.16 - 0.3 * (-4.4)
    val expSse = 4.4 * 4.4 + 3.16 * 3.16 + e5 * e5
    for (arrayFits <- Seq(true, false)) {
      val out = SequentialKernels.fitArma22Full(inFitsShape(df, arrayFits), Seq("k"),
          Seq(col("t")), "v", phi1Grid = Seq(0.5), phi2Grid = Seq(0.3),
          theta1Grid = Seq(0.4), theta2Grid = Seq(0.3))
        .select("arma22_sse", "arma22_neff", "arma22_eps_last",
          "arma22_eps_prev", "arma22_xc_last", "arma22_xc_prev")
        .as[(Double, Double, Double, Double, Double, Double)].head()
      assert(math.abs(out._1 - expSse) < 1e-4, s"arrayFits=$arrayFits")
      assert(out._2 == 3.0, s"arrayFits=$arrayFits") // three SSE terms (t = 3..5)
      assert(math.abs(out._3 - e5) < 1e-12, s"arrayFits=$arrayFits")
      assert(math.abs(out._4 - 3.16) < 1e-12, s"arrayFits=$arrayFits")
      assert(out._5 == 4.0 && out._6 == 0.0, s"arrayFits=$arrayFits")
    }
  }

  test("ARMA(2,2) with θ2 = 0 grid degenerates to the ARMA(2,1) fit") {
    val df = series(("a", 1, 10.0), ("a", 2, 14.0), ("a", 3, 8.0),
      ("a", 4, 12.0), ("a", 5, 16.0), ("a", 6, 9.0), ("a", 7, 13.0))
    val g21 = SequentialKernels.fitArma21Full(df, Seq("k"), Seq(col("t")), "v")
      .select("arma2_phi1", "arma2_phi2", "arma2_theta", "arma2_sse")
      .as[(Double, Double, Double, Double)].head()
    val g22 = SequentialKernels.fitArma22Full(df, Seq("k"), Seq(col("t")), "v",
      theta2Grid = Seq(0.0))
      .select("arma22_phi1", "arma22_phi2", "arma22_theta1", "arma22_sse")
      .as[(Double, Double, Double, Double)].head()
    assert(g21 == g22) // identical grid → identical winner and SSE
  }

  test("ARIMA(2,1,2) forecast integrates from the last level") {
    // linear series: diffs constant 3 → every quadruple ties at SSE 0
    // on the centered-zero diffs; forecast continues the line
    val df = series((1 to 6).map(t => ("a", t, java.lang.Double.valueOf(3.0 * t))): _*)
    val base = SequentialKernels.fitArma22Full(
      df.withColumn("__dy", col("v") - lag(col("v"), 1)
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(col("t")))).filter(col("__dy").isNotNull),
      Seq("k"), Seq(col("t")), "__dy")
    val lastLevel = df.groupBy(col("k")).agg(max(col("v")).as("__yn"))
    val out = SequentialKernels.arima212ForecastFrom(base, lastLevel, Seq("k"), h = 3)
      .orderBy("step").select("step", "arima_forecast")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 21.0), (2L, 24.0), (3L, 27.0)))
  }

  test("SARIMA(0,0,1)(0,1,0)_m: seasonal-naive series forecasts exactly") {
    // period-3 pattern repeated: seasonal diffs all 0 → μ = 0, every θ
    // ties at SSE 0 → θ = −0.8 (smallest); f = 0, so the forecast IS
    // the last observed season
    val pat = Seq(7.0, 11.0, 4.0)
    val df = series((1 to 9).map(t =>
      ("a", t, java.lang.Double.valueOf(pat((t - 1) % 3)))): _*)
    val fit = OrderSearch.sarima011Full(df, Seq("k"), Seq(col("t")), "v", m = 3)
    val out = OrderSearch.sarima011ForecastFrom(fit,
      OrderSearch.seasonalBase(df, Seq("k"), Seq(col("t")), "v", h = 3, m = 3),
      Seq("k"), h = 3)
      .orderBy("step").select("step", "sma_forecast")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 7.0), (2L, 11.0), (3L, 4.0)))
    val theta = fit.select("sma_theta").as[Double].head()
    assert(theta == -0.8)
  }

  test("SARIMA(1,0,1)(0,1,0)_m: seasonal-naive series forecasts exactly") {
    // period-3 pattern repeated: seasonal diffs all 0 -> mu = 0, xc = 0,
    // every (phi, theta) ties at SSE 0 -> smallest pair (-0.5, -0.4);
    // all step forecasts f = 0, so the forecast IS the last season
    val pat = Seq(7.0, 11.0, 4.0)
    val df = series((1 to 9).map(t =>
      ("a", t, java.lang.Double.valueOf(pat((t - 1) % 3)))): _*)
    val base = OrderSearch.sarma11Full(df, Seq("k"), Seq(col("t")), "v", m = 3)
    val out = OrderSearch.sarma11ForecastFrom(base,
      OrderSearch.seasonalBase(df, Seq("k"), Seq(col("t")), "v", h = 3, m = 3),
      Seq("k"), h = 3)
      .orderBy("step").select("step", "sarma_forecast")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 7.0), (2L, 11.0), (3L, 4.0)))
    val fit = base.select("sarma_phi", "sarma_theta", "sarma_nsd")
      .as[(Double, Double, Double)].head()
    assert(fit == ((-0.5, -0.4, 6.0)))
  }

  test("SARIMA(1,0,1)(0,1,0)_m: hand-computed joint recursion on seasonal diffs") {
    // m = 2; values 1,2,4,9,9,17 -> seasonal diffs z = [3,7,5,8]
    // mu = 5.75; xc = [-2.75, 1.25, -0.75, 2.25]; for (phi, theta):
    // e1 = 0 (conditioned), e2 = 1.25 - phi*(-2.75) - theta*0,
    // e3 = -0.75 - phi*1.25 - theta*e2, e4 = 2.25 - phi*(-0.75) - theta*e3,
    // SSE = e2^2 + e3^2 + e4^2 -- replayed per grid pair below
    val df = series(Seq(1.0, 2.0, 4.0, 9.0, 9.0, 17.0).zipWithIndex.map {
      case (v, i) => ("a", i + 1, java.lang.Double.valueOf(v)) }: _*)
    val xs = Seq(3.0, 7.0, 5.0, 8.0)
    val mu = xs.sum / 4
    val xc = xs.map(_ - mu)
    val grid = for (p <- Seq(-0.5, 0.0, 0.5, 0.9); t <- Seq(-0.4, 0.0, 0.4)) yield (p, t)
    val sses = grid.map { case (ph, th) =>
      var e = 0.0; var sse = 0.0; var xp = xc.head
      xc.tail.foreach { x =>
        val ne = x - ph * xp - th * e
        sse += ne * ne; e = ne; xp = x
      }
      (ph, th) -> sse
    }
    val ((expPh, expTh), expSse) = sses.minBy { case ((p, t), ss) => (ss, p, t) }
    val fit = OrderSearch.sarma11Full(df, Seq("k"), Seq(col("t")), "v", m = 2)
      .select("sarma_phi", "sarma_theta", "sarma_sse")
      .as[(Double, Double, Double)].head()
    assert((fit._1, fit._2) == ((expPh, expTh)), sses.toString)
    assert(math.abs(fit._3 - expSse) < 1e-4)
  }

  test("extended scoreboard: fourteen members for long series, gates for short") {
    // NB series key must not be named "k" — the scoreboard schema's
    // parameter-count column k would shadow it (Champion convention)
    val long = (1 to 20).map(t =>
      ("L", t, java.lang.Double.valueOf(t + (if (t % 2 == 0) 3.0 else -3.0))))
    val short = (1 to 3).map(t => ("S", t, java.lang.Double.valueOf(t * 2.0)))
    val df = (long ++ short).toDF("g", "t", "v")
    val (sb, _) = extended(df, h = 2, m = 4)
    val byKey = sb.select("g", "model").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byKey("L").contains("arima021") && byKey("L").contains("arima211"))
    assert(byKey("L").contains("arima212") && byKey("L").contains("sari"))
    assert(byKey("L").contains("sma") && byKey("L").contains("sarma"))
    // n = 3: one second-diff residual (< 2), no conditioned ARMA(2,q)
    // residuals, no lag-4 seasonal diffs — all six gated out
    assert(!byKey("S").contains("arima021") && !byKey("S").contains("arima211"))
    assert(!byKey("S").contains("arima212") && !byKey("S").contains("sari"))
    assert(!byKey("S").contains("sma") && !byKey("S").contains("sarma"))
    // ranks are a dense 1..n permutation per series
    val ranksL = sb.filter(col("g") === "L").select("rank").as[Long]
      .collect().sorted.toSeq
    assert(ranksL == (1L to ranksL.size).toSeq)
    assert(ranksL.size == 14)
  }

  test("extended champion: every series gets exactly h forecast rows, " +
    "whichever member wins") {
    // the winner-join invariant the scoreboard/forecast unions must
    // keep in lockstep: a member present in the board without rows in
    // the forecast union would silently DROP its series here
    val long = (1 to 24).map(t =>
      ("L", t, java.lang.Double.valueOf(t * 2.0 + (if (t % 4 == 0) 5.0 else 0.0))))
    val wavy = (1 to 24).map(t =>
      ("W", t, java.lang.Double.valueOf(math.round(
        50 + 20 * math.sin(t * 1.3) + 3 * t) * 1.0)))
    val df = (long ++ wavy).toDF("g", "t", "v")
    val (board, fcs) = extended(df, h = 3, m = 4)
    val picked = OrderSearch.pickFrom(board, fcs, Seq("g"))
    val rows = picked.select("g", "champion", "step")
      .as[(String, String, Long)].collect()
    assert(rows.count(_._1 == "L") == 3, rows.toSeq)
    assert(rows.count(_._1 == "W") == 3, rows.toSeq)
    // the winner is one of the fourteen searched members
    val members = Set("mean_naive", "snaive", "ar2", "ari", "ma1", "arma11",
      "theta", "holt_damped", "arima021", "arima211", "sari", "arima212", "sma",
      "sarma")
    assert(rows.map(_._2).toSet.subsetOf(members), rows.map(_._2).toSet)
    // the extended blend mixes EVERY identified member: h rows per
    // series, n_members = that series' scoreboard row count
    val boardN = board.groupBy(col("g")).count()
      .as[(String, Long)].collect().toMap
    val blend = Champion.blendFrom(board, fcs, Seq("g"))
      .select("g", "step", "n_members").as[(String, Long, Long)].collect()
    assert(blend.count(_._1 == "L") == 3 && blend.count(_._1 == "W") == 3)
    blend.foreach { case (g, _, nm) => assert(nm == boardN(g), s"$g: $nm") }
  }

  test("seasonal and Δ² bases: one series pass each, no join and no descending sort") {
    // the residual count, the last level and the last difference come
    // from the grid fit's own per-series aggregate
    val df = series((1 to 20).map(t => ("a", t, java.lang.Double.valueOf((t * 7) % 5))): _*)
    val (keys, ord) = (Seq("k"), Seq(col("t")))
    for ((name, fit) <- Seq(
        "sarima011Full" -> OrderSearch.sarima011Full(df, keys, ord, "v", 4),
        "sarma11Full" -> OrderSearch.sarma11Full(df, keys, ord, "v", 4),
        "arima021Full" -> OrderSearch.arima021Full(df, keys, ord, "v"))) {
      val plan = fit.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name: $plan")
      assert(!plan.contains(" DESC"), s"$name: $plan")
    }
    val counts = OrderSearch.sarima011Full(df, keys, ord, "v", 4).select("sma_neff")
      .as[Double].head() -> OrderSearch.arima021Full(df, keys, ord, "v")
      .select("d2_neff", "y_last", "dy_last").as[(Double, Double, Double)].head()
    assert(counts == (16.0 -> (18.0, 0.0, -3.0)))
  }

  test("ARIMA(2,1,1) forecast integrates from the last level") {
    // linear series: diffs constant 3 → every triple ties at SSE 0 on
    // the centered-zero diffs; forecast continues the line
    val df = series((1 to 6).map(t => ("a", t, java.lang.Double.valueOf(3.0 * t))): _*)
    val (_, a21base, _, lastLevel) = OrderSearch.extFitBases(df, Seq("k"), Seq(col("t")), "v")
    val out = SequentialKernels.arima211ForecastFrom(a21base, lastLevel, Seq("k"), h = 3)
      .orderBy("step").select("step", "arima_forecast")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 21.0), (2L, 24.0), (3L, 27.0)))
  }
}
