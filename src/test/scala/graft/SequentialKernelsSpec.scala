package graft

import org.apache.spark.sql.functions._
import graft.seq.SequentialKernels

class SequentialKernelsSpec extends SparkSpec {
  import spark.implicits._

  private def series(rows: (String, Int, java.lang.Double)*) =
    rows.toSeq.toDF("k", "t", "v")

  test("Theta forecast: trend extends, SES carries flat — hand-computed") {
    // series 2,4 (α=0.3): OLS a=0, b=2; z = 2x−l = [2,4]; ses = [2, 2.6]
    // → ŷ_s = ½·(2·(2+s)) + ½·2.6 = (2+s) + 1.3 = s + 3.3
    val df = series(("a", 1, 2.0), ("a", 2, 4.0))
    val out = graft.seq.Theta.forecast(df, Seq("k"), Seq(col("t")), "v",
        alpha = 0.3, h = 3)
      .orderBy("step").select("step", "theta_forecast")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 4.3), (2L, 5.3), (3L, 6.3)))
    // constant series: a = c, b = 0, ses = c → forecast ≡ c at every step
    val const = series(("a", 1, 7.0), ("a", 2, 7.0), ("a", 3, 7.0))
    val cf = graft.seq.Theta.forecast(const, Seq("k"), Seq(col("t")), "v",
        alpha = 0.3, h = 2)
      .select("theta_forecast").as[Double].collect().toSeq
    assert(cf == Seq(7.0, 7.0))
  }

  test("MA(1) innovation recursion matches the hand-computed filter") {
    // series 10,14,8,12 → μ = 11; centered 	−1,3,−3,1; θ = 0.5:
    // e1 = −1; e2 = 3 − 0.5·(−1) = 3.5; e3 = −3 − 0.5·3.5 = −4.75;
    // e4 = 1 − 0.5·(−4.75) = 3.375; fitted = x − e
    val df = series(("a", 1, 10.0), ("a", 2, 14.0), ("a", 3, 8.0), ("a", 4, 12.0))
    val out = SequentialKernels.withMa1(df, Seq("k"), Seq(col("t")), "v", theta = 0.5)
      .orderBy("t").select("ma1_resid", "ma1_fitted")
      .as[(Double, Double)].collect().toSeq
    assert(out == Seq((-1.0, 11.0), (3.5, 10.5), (-4.75, 12.75), (3.375, 8.625)))
  }

  test("MA(1): independent series keep independent innovation state") {
    val df = series(("a", 1, 10.0), ("b", 1, 100.0), ("a", 2, 14.0), ("b", 2, 90.0))
    val out = SequentialKernels.withMa1(df, Seq("k"), Seq(col("t")), "v", theta = 0.5)
      .orderBy("k", "t").select("ma1_resid").as[Double].collect().toSeq
    // a: μ=12 → e = −2, 2 − 0.5·(−2) = 3; b: μ=95 → e = 5, −5 − 0.5·5 = −7.5
    assert(out == Seq(-2.0, 3.0, 5.0, -7.5))
  }

  test("MA(1) grid fit matches a hand fold and recovers the planted theta") {
    // series from a planted MA(1): x_t = 10 + e_t + 0.4·e_{t−1}, e_0 = 0,
    // with an (approximately) white innovation draw — an autocorrelated
    // draw would legitimately pull the conditional-LS winner off 0.4
    val innov = Seq(0.09, 1.25, -0.93, 0.99, -0.26, -0.26, 1.9, 0.16, -0.04,
      0.73, 1.13, -0.03, 0.59, -0.97, -0.37, -0.44, -1.33, -1.51, -1.63,
      -0.24, -0.17, -0.32, 0.07, -1.34)
    var ep = 0.0
    val xs = innov.map { e => val x = 10.0 + e + 0.4 * ep; ep = e; x }
    val df = xs.zipWithIndex.map { case (v, i) => ("a", i + 1, v) }
      .toDF("k", "t", "v")
    // hand fold replicating the kernel exactly (μ = exact micro-int mean)
    val mu = xs.map(x => math.round(x * 1e4)).sum.toDouble / 1e4 / xs.size + 0.0
    val grid = Seq(-0.8, -0.4, 0.0, 0.4, 0.8)
    val sses = grid.map { th =>
      var e = 0.0; var sse = 0.0
      xs.foreach { x => val ne = (x - mu) - th * e; e = ne; sse += ne * ne }
      th -> sse
    }
    val (expTh, expSse) = sses.minBy { case (th, s) => (s, th) }
    for (arrayFits <- Seq(true, false)) {
      val out = SequentialKernels.fitMa1(inFitsShape(df, arrayFits), Seq("k"),
          Seq(col("t")), "v")
        .select("ma1_theta", "ma1_sse").as[(Double, Double)].head()
      assert(out._1 == expTh, s"arrayFits=$arrayFits")
      assert(math.abs(out._2 - expSse) < 1e-4, s"arrayFits=$arrayFits")
    }
    assert(expTh == 0.4, s"planted theta should win the grid, SSEs: $sses")
  }

  test("MA(1) grid fit: an all-tied single-row series breaks to the smallest theta") {
    val df = series(("a", 1, 5.0))
    val out = SequentialKernels.fitMa1(df, Seq("k"), Seq(col("t")), "v")
      .select("ma1_theta", "ma1_sse").as[(Double, Double)].head()
    assert(out == ((-0.8, 0.0)))
  }

  test("ARMA(1,1) grid fit matches a hand fold and recovers the planted pair") {
    // x_t = 10 + z_t with z_t = 0.5·z_{t−1} + e_t + 0.4·e_{t−1} on an
    // approximately white innovation draw
    val innov = Seq(1.29, 1.45, 0.07, -0.76, -1.09, 0.03, -1.02, -1.44, 0.2,
      0.13, 0.55, -0.91, 0.01, -0.06, -1.51, 0.54, 0.32, 2.39, 0.2, -0.14,
      1.23, 0.2, 0.91, -0.37, 0.22, 1.02, 0.7, 0.13, -1.08, 0.45)
    var zp = 0.0; var ep = 0.0
    val xs = innov.map { e => val z = 0.5 * zp + e + 0.4 * ep; zp = z; ep = e
      math.round((10.0 + z) * 1e6) / 1e6 }
    val df = xs.zipWithIndex.map { case (v, i) => ("a", i + 1, v) }
      .toDF("k", "t", "v")
    // hand fold replicating the kernel (μ = exact micro-int mean, ε_1 = 0)
    val mu = xs.map(x => math.round(x * 1e4)).sum.toDouble / 1e4 / xs.size + 0.0
    val pairs = for (p <- Seq(-0.5, 0.0, 0.5, 0.9); t <- Seq(-0.4, 0.0, 0.4))
      yield (p, t)
    val sses = pairs.map { case (ph, th) =>
      var xp = Option.empty[Double]; var e = 0.0; var sse = 0.0
      xs.foreach { x =>
        val xc = x - mu
        xp match {
          case None => xp = Some(xc)
          case Some(p) =>
            val ne = xc - ph * p - th * e
            sse += ne * ne; e = ne; xp = Some(xc)
        }
      }
      (ph, th) -> sse
    }
    val ((expPh, expTh), expSse) = sses.minBy { case ((p, t), s) => (s, p, t) }
    for (arrayFits <- Seq(true, false)) {
      val out = SequentialKernels.fitArma11(inFitsShape(df, arrayFits), Seq("k"),
          Seq(col("t")), "v")
        .select("arma_phi", "arma_theta", "arma_sse")
        .as[(Double, Double, Double)].head()
      assert((out._1, out._2) == ((expPh, expTh)), s"arrayFits=$arrayFits")
      assert(math.abs(out._3 - expSse) < 1e-4, s"arrayFits=$arrayFits")
    }
    assert((expPh, expTh) == ((0.5, 0.4)),
      s"planted pair should win the grid, SSEs: $sses")
  }

  test("ARMA(1,1) grid fit: a single-row series ties to the smallest pair") {
    val df = series(("a", 1, 5.0))
    val out = SequentialKernels.fitArma11(df, Seq("k"), Seq(col("t")), "v")
      .select("arma_phi", "arma_theta", "arma_sse")
      .as[(Double, Double, Double)].head()
    assert(out == ((-0.5, -0.4, 0.0)))
  }

  test("EWMA matches the pandas adjust=False recursion, hand-computed") {
    val df = series(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 0.0), ("a", 4, 40.0))
    val out = SequentialKernels.withEwma(df, Seq("k"), Seq(col("t")), "v", 0.5, "e")
      .orderBy("t").select("e").as[Double].collect()
    // y0=10; y1=.5*20+.5*10=15; y2=.5*0+.5*15=7.5; y3=.5*40+.5*7.5=23.75
    assert(out.toSeq == Seq(10.0, 15.0, 7.5, 23.75))
  }

  test("ARMA grid fits: a trailing NULL value row keeps xc_last consistent " +
    "with eps (state-carried, not row-read)") {
    // trailing NULL observation: the fold skips it (its state — eps,
    // xp — reflects the last NON-NULL value), so xc_last must be that
    // same last non-null centered value, not the emitted row's own
    // (NULL) centered value. μ still counts the NULL row per the house
    // count(*) convention: (10+14+8+12)/5 = 8.8.
    val xcLast = 12.0 - 8.8   // last non-null value, centered
    val xcPrev = 8.0 - 8.8
    for (arrayFits <- Seq(true, false)) {
      val trail = inFitsShape(series(("a", 1, 10.0), ("a", 2, 14.0), ("a", 3, 8.0),
        ("a", 4, 12.0), ("a", 5, null)), arrayFits)
      val t11 = SequentialKernels.fitArma11Full(trail, Seq("k"), Seq(col("t")), "v")
        .select("arma_xc_last").as[java.lang.Double].head()
      assert(t11 != null && math.abs(t11 - xcLast) < 1e-12, s"arrayFits=$arrayFits")
      val t21 = SequentialKernels.fitArma21Full(trail, Seq("k"), Seq(col("t")), "v")
        .select("arma2_xc_last", "arma2_xc_prev")
        .as[(java.lang.Double, java.lang.Double)].head()
      assert(t21._1 != null && math.abs(t21._1 - xcLast) < 1e-12, s"arrayFits=$arrayFits")
      assert(math.abs(t21._2 - xcPrev) < 1e-12, s"arrayFits=$arrayFits")
      val t22 = SequentialKernels.fitArma22Full(trail, Seq("k"), Seq(col("t")), "v")
        .select("arma22_xc_last", "arma22_xc_prev")
        .as[(java.lang.Double, java.lang.Double)].head()
      assert(t22._1 != null && math.abs(t22._1 - xcLast) < 1e-12, s"arrayFits=$arrayFits")
      assert(math.abs(t22._2 - xcPrev) < 1e-12, s"arrayFits=$arrayFits")
      // and the forecast built on the trailing-NULL fit is non-null
      val fc = SequentialKernels.arma11Forecast(trail, Seq("k"), Seq(col("t")), "v", 2)
        .select("arma_forecast").as[java.lang.Double].collect()
      assert(fc.nonEmpty && fc.forall(_ != null), s"arrayFits=$arrayFits")
    }
  }

  test("MA(3) grid fit matches a local replay of the 27-triple recursion") {
    val vals = Seq(10.0, 14.0, 8.0, 12.0, 6.0, 15.0, 9.0, 11.0)
    val mu = vals.sum / vals.size
    val xc = vals.map(_ - mu)
    val grid = Seq(-0.4, 0.0, 0.4)
    val all = for (t1 <- grid; t2 <- grid; t3 <- grid) yield (t1, t2, t3)
    val sses = all.map { case (t1, t2, t3) =>
      var (e, ep, epp, sse) = (0.0, 0.0, 0.0, 0.0)
      xc.foreach { x =>
        val ne = x - t1 * e - t2 * ep - t3 * epp
        epp = ep; ep = e; e = ne; sse += ne * ne
      }
      (t1, t2, t3) -> sse
    }
    val ((e1, e2, e3), expSse) =
      sses.minBy { case ((a, b, c), ss) => (ss, a, b, c) }
    for (arrayFits <- Seq(true, false)) {
      val df = inFitsShape(series(vals.zipWithIndex.map {
        case (v, i) => ("a", i + 1, java.lang.Double.valueOf(v)) }: _*), arrayFits)
      val fit = SequentialKernels.fitMa3Full(df, Seq("k"), Seq(col("t")), "v")
        .select("ma3_theta1", "ma3_theta2", "ma3_theta3", "ma3_sse")
        .as[(Double, Double, Double, Double)].head()
      assert((fit._1, fit._2, fit._3) == ((e1, e2, e3)), s"arrayFits=$arrayFits $sses")
      assert(math.abs(fit._4 - expSse) < 1e-4, s"arrayFits=$arrayFits")
      // constant series: every triple ties at SSE 0 → the smallest wins
      // and the forecast is flat at the mean
      val const = inFitsShape(series((1 to 6).map(t =>
        ("a", t, java.lang.Double.valueOf(5.0))): _*), arrayFits)
      val base = SequentialKernels.fitMa3Full(const, Seq("k"), Seq(col("t")), "v")
      assert(base.select("ma3_theta1", "ma3_theta2", "ma3_theta3")
        .as[(Double, Double, Double)].head() == ((-0.4, -0.4, -0.4)), s"arrayFits=$arrayFits")
      val fc = SequentialKernels.ma3ForecastFrom(base, Seq("k"), h = 5)
        .select("ma3_forecast").as[Double].collect().toSeq
      assert(fc == Seq.fill(5)(5.0), s"arrayFits=$arrayFits")
    }
  }

  test("EWM variance follows West's online recursion, hand-computed") {
    val df = series(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 10.0))
    val out = SequentialKernels.withEwmVar(df, Seq("k"), Seq(col("t")), "v", 0.5)
      .orderBy("t").select("ewm_mean", "ewm_var").as[(Double, Double)].collect()
    // m0=10,v0=0; m1=.5*10+.5*20=15, v1=.5*(0+.5*(20-10)^2)=25;
    // m2=.5*15+.5*10=12.5, v2=.5*(25+.5*(10-15)^2)=18.75
    assert(out.toSeq == Seq((10.0, 0.0), (15.0, 25.0), (12.5, 18.75)))
  }

  test("EWM variance of a constant series is zero") {
    val df = series(("a", 1, 7.0), ("a", 2, 7.0), ("a", 3, 7.0))
    val vs = SequentialKernels.withEwmVar(df, Seq("k"), Seq(col("t")), "v", 0.3)
      .select("ewm_var").as[Double].collect()
    assert(vs.forall(_ == 0.0))
  }

  test("Theta: recovers the trend line, constant series fits exactly") {
    val lin = series(("a", 1, 2.0), ("a", 2, 4.0), ("a", 3, 6.0), ("a", 4, 8.0))
    val out = graft.seq.Theta.fitted(lin, Seq("k"), Seq(col("t")), "v", 0.5)
      .orderBy("t").select("theta_a", "theta_b", "theta_fitted")
      .as[(Double, Double, Double)].collect()
    assert(out.head._1 == 0.0 && out.head._2 == 2.0, out.head.toString) // x = 2t
    // on an exact linear series the theta2 line equals the series, so
    // fitted = 0.5 trend + 0.5 SES(series) — converging toward the line
    assert(math.abs(out.last._3 - 8.0) < 1.5, out.last.toString)
    val const = series(("a", 1, 5.0), ("a", 2, 5.0), ("a", 3, 5.0))
    val cf = graft.seq.Theta.fitted(const, Seq("k"), Seq(col("t")), "v", 0.3)
      .select("theta_fitted").as[Double].collect()
    assert(cf.forall(_ == 5.0), cf.toSeq.toString)
  }

  test("EWMA state resets at series boundaries and skips nulls") {
    val df = series(("a", 1, 10.0), ("a", 2, null), ("a", 3, 20.0),
      ("b", 1, 100.0), ("b", 2, 200.0))
    val out = SequentialKernels.withEwma(df, Seq("k"), Seq(col("t")), "v", 0.5, "e")
      .orderBy("k", "t").select("e").as[Double].collect()
    // a: 10, carried 10 (null), .5*20+.5*10=15 ; b restarts: 100, 150
    assert(out.toSeq == Seq(10.0, 10.0, 15.0, 100.0, 150.0))
  }

  test("Holt level/trend = EWMA of value and of first differences") {
    val df = series(("a", 1, 10.0), ("a", 2, 14.0), ("a", 3, 10.0))
    val out = SequentialKernels.withHolt(df, Seq("k"), Seq(col("t")), "v", 0.5, 0.5)
      .orderBy("t").select("holt_level", "holt_trend").collect()
    // level: 10, 12, 11 ; trend: null, 4 (first diff), .5*(-4)+.5*4=0
    assert(out(0).getDouble(0) == 10.0 && out(0).isNullAt(1))
    assert(out(1).getDouble(0) == 12.0 && out(1).getDouble(1) == 4.0)
    assert(out(2).getDouble(0) == 11.0 && out(2).getDouble(1) == 0.0)
  }

  test("Croston hand-computed on an intermittent series") {
    // demands: 0, 5, 0, 0, 8  with alpha=0.5
    val df = series(("a", 1, 0.0), ("a", 2, 5.0), ("a", 3, 0.0), ("a", 4, 0.0), ("a", 5, 8.0))
    val out = SequentialKernels.withCroston(df, Seq("k"), Seq(col("t")), "v", 0.5)
      .orderBy("t").select("croston_forecast").collect()
    // t1: leading zero, no demand yet -> null
    assert(out(0).isNullAt(0))
    // t2: first demand: z=5, p=1 -> 5.0  (interval convention: first=1)
    assert(out(1).getDouble(0) == 5.0)
    // t3, t4: carried
    assert(out(2).getDouble(0) == 5.0 && out(3).getDouble(0) == 5.0)
    // t5: interval=3, z=.5*8+.5*5=6.5, p=.5*3+.5*1=2 -> 3.25
    assert(out(4).getDouble(0) == 3.25)
  }

  test("SBA applies the 1-alpha/2 correction") {
    val df = series(("a", 1, 4.0))
    val out = SequentialKernels.withCroston(df, Seq("k"), Seq(col("t")), "v", 0.5, sba = true)
      .select("croston_forecast").as[Double].head()
    assert(out == 0.75 * 4.0)
  }

  test("TSB probability decays on zero periods") {
    val df = series(("a", 1, 10.0), ("a", 2, 0.0))
    val out = SequentialKernels.withTsb(df, Seq("k"), Seq(col("t")), "v", 0.5, 0.5)
      .orderBy("t").select("tsb_forecast").as[Double].collect()
    // t1: b=1, z=10 -> 10 ; t2: b=.5*0+.5*1=.5, z stays -> 5
    assert(out.toSeq == Seq(10.0, 5.0))
  }

  test("intermittency classes follow Syntetos-Boylan cutoffs") {
    val smooth = (1 to 10).map(i => ("s", i, java.lang.Double.valueOf(10.0)))
    val intermittent = (1 to 10).map(i =>
      ("i", i, java.lang.Double.valueOf(if (i % 3 == 0) 10.0 else 0.0)))
    val dead = (1 to 4).map(i => ("d", i, java.lang.Double.valueOf(0.0)))
    val df = (smooth ++ intermittent ++ dead).toDF("k", "t", "v")
    val cls = SequentialKernels.classifyIntermittency(df, Seq(col("k")), col("v"), Seq("k"))
      .select("k", "demand_class").as[(String, String)].collect().toMap
    assert(cls("s") == "smooth")
    assert(cls("i") == "intermittent")
    assert(cls("d") == "dead")
  }

  test("Holt-Winters slot-0 contract: first data-driven write at observation m+1") {
    // m=2, dyadic parameters — every state value is an exact double.
    // The documented asymmetry: observation 1 writes ring slot 0 a
    // trivial 0 (γ(x−l)=0 since l initializes to x), so observation
    // m+1=3 still READS 0 from slot 0 but performs its first
    // data-driven WRITE; observation 2m+1=5 is the first read of a
    // data-driven slot-0 value.
    val df = Seq(("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 14.0),
      ("a", 4, 16.0), ("a", 5, 18.0)).toDF("k", "t", "v")
    val out = SequentialKernels.withHoltWinters(df, Seq("k"), Seq(col("t")),
      "v", alpha = 0.5, beta = 0.5, gamma = 0.5, m = 2)
      .orderBy("t").select("hw_level", "hw_trend", "hw_seasonal")
      .as[(Double, Double, Double)].collect().toSeq
    // obs3: sPrev = slot0 = 0 (trivial write), level .5·14 + .5·11.5
    assert(out(2) == ((12.75, 1.125, 0.625)))
    // obs5: sPrev = 0.625 — obs3's data-driven slot-0 write
    assert(out(4) == ((16.796875, 1.8203125, 0.9140625)))
    assert(out.map(_._3) == Seq(0.0, 0.5, 0.625, 0.90625, 0.9140625))
  }

  test("EWMA window aggregate ≡ streaming fold (r18 kernel swap), bit for bit") {
    // adversarial shape: leading null, interior null runs, negative and
    // tiny values, a single-row series, a series of only nulls
    val df = series(
      ("a", 1, null), ("a", 2, 10.0), ("a", 3, null), ("a", 4, -3.5),
      ("a", 5, 0.0001), ("a", 6, null), ("a", 7, 42.0),
      ("b", 1, 7.25), ("c", 1, null), ("c", 2, null),
      ("d", 1, 1.0), ("d", 2, 2.0), ("d", 3, 3.0), ("d", 4, 4.0))
    for (alpha <- Seq(0.3, 0.5, 0.9)) {
      val win = SequentialKernels.withEwma(df, Seq("k"), Seq(col("t")), "v", alpha, "e")
        .orderBy("k", "t").select("k", "t", "e")
        .as[(String, Int, Option[Double])].collect().toSeq
      val fold = SequentialKernelsReference.withEwmaFold(df, Seq("k"), Seq(col("t")), "v", alpha, "e")
        .orderBy("k", "t").select("k", "t", "e")
        .as[(String, Int, Option[Double])].collect().toSeq
      assert(win == fold, s"alpha=$alpha\nwin =$win\nfold=$fold")
    }
  }

  test("Holt/Croston/TSB/EWM-var window aggregates ≡ streaming folds, bit for bit") {
    val df = series(
      ("a", 1, null), ("a", 2, 10.0), ("a", 3, 0.0), ("a", 4, -3.5),
      ("a", 5, null), ("a", 6, 42.0), ("a", 7, 0.0),
      ("b", 1, 7.25), ("c", 1, null), ("c", 2, null),
      ("d", 1, 0.0), ("d", 2, 2.0), ("d", 3, 0.0), ("d", 4, 4.0))
    def rows(out: org.apache.spark.sql.DataFrame, cols: String*) = out
      .orderBy("k", "t").selectExpr(("k" +: "t" +: cols).map(c => s"cast($c as string)"): _*)
      .collect().map(_.toSeq).toSeq
    val k = Seq("k"); val o = Seq(col("t"))
    assert(rows(SequentialKernels.withHolt(df, k, o, "v", 0.3, 0.4), "holt_level", "holt_trend")
      == rows(SequentialKernelsReference.withHoltFold(df, k, o, "v", 0.3, 0.4), "holt_level", "holt_trend"))
    assert(rows(SequentialKernels.withCroston(df, k, o, "v", 0.2), "croston_forecast")
      == rows(SequentialKernelsReference.withCrostonFold(df, k, o, "v", 0.2), "croston_forecast"))
    assert(rows(SequentialKernels.withCroston(df, k, o, "v", 0.2, sba = true), "croston_forecast")
      == rows(SequentialKernelsReference.withCrostonFold(df, k, o, "v", 0.2, sba = true), "croston_forecast"))
    assert(rows(SequentialKernels.withTsb(df, k, o, "v", 0.3, 0.2), "tsb_forecast")
      == rows(SequentialKernelsReference.withTsbFold(df, k, o, "v", 0.3, 0.2), "tsb_forecast"))
    assert(rows(SequentialKernels.withEwmVar(df, k, o, "v", 0.25), "ewm_mean", "ewm_var")
      == rows(SequentialKernelsReference.withEwmVarFold(df, k, o, "v", 0.25), "ewm_mean", "ewm_var"))
  }

  test("grid fits: array form ≡ fold form bit-for-bit on an adversarial frame " +
    "(r18 one-aggregate rewrite, conf toggle)") {
    // both cell-feeding shapes of the one kernel against the
    // streaming-fold reference (SequentialKernelsReference)
    // every parity-relevant regime in one frame: a normal multi-week
    // series with negatives and an interior NULL (state carries over),
    // a trailing-NULL series (xc_last from state, not the last row), a
    // single-row series (full grid tie → smallest params win), an
    // all-null series (zero state, NULL mu/xc_last), an exact-constant
    // series (all-tied SSE 0), a two-row series (ARMA21/22 still fully
    // conditioned → SSE 0 ties), and a NULL-KEY series (dropped by the
    // fold form's inner mean-join — the array form must drop it too)
    val rows: Seq[(String, Int, Option[Double])] = Seq(
      ("a", 1, Some(10.0)), ("a", 2, Some(14.0)), ("a", 3, None), ("a", 4, Some(8.0)),
      ("a", 5, Some(12.0)), ("a", 6, Some(6.25)), ("a", 7, Some(-3.5)), ("a", 8, Some(11.0)),
      ("b", 1, Some(10.0)), ("b", 2, Some(14.0)), ("b", 3, Some(8.0)),
      ("b", 4, Some(12.0)), ("b", 5, None),
      ("c", 1, Some(5.0)),
      ("d", 1, None), ("d", 2, None),
      ("e", 1, Some(7.0)), ("e", 2, Some(7.0)), ("e", 3, Some(7.0)), ("e", 4, Some(7.0)),
      ("f", 1, Some(3.0)), ("f", 2, Some(-9.0)),
      // all-NaN series: microMean maps NaN to NULL, so μ is NULL and
      // every centered value is NULL → both forms must skip every cell
      // (zero state, NULL mu/xc_last), NOT propagate NaN
      ("g", 1, Some(Double.NaN)), ("g", 2, Some(Double.NaN)),
      // NaN mixed into a normal series: μ is non-NULL, the NaN centered
      // value flows through the recursion as NaN in both forms
      ("h", 1, Some(2.0)), ("h", 2, Some(Double.NaN)), ("h", 3, Some(4.0)),
      (null, 1, Some(4.0)), (null, 2, Some(5.0)))
    val df = rows.map { case (kk, t, v) =>
      (kk, t, v.map(java.lang.Double.valueOf).orNull) }.toDF("k", "t", "v")
    val k = Seq("k"); val o = Seq(col("t"))
    def normalized(out: org.apache.spark.sql.DataFrame,
                   signedZero: Boolean): (Seq[(String, String)], Seq[Seq[Any]]) =
      (out.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq,
        out.orderBy("k").collect().map(_.toSeq.map {
          // Scala == on boxed doubles is IEEE (NaN != NaN): compare the
          // BIT pattern instead — strictly stronger (it also splits ±0.0
          // unless signedZero is off, where −0.0 + 0.0 folds it to 0.0)
          case dd: Double => java.lang.Double.doubleToLongBits(
            if (signedZero) dd else dd + 0.0)
          case other => other
        }).toSeq)
    def both(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
             reference: org.apache.spark.sql.DataFrame,
             signedZero: Boolean = true): Unit = {
      val ref = normalized(reference, signedZero)
      assert(ref._2.nonEmpty && !ref._2.exists(_.head == null)) // null key dropped
      for (arrayFits <- Seq(true, false)) {
        val out = normalized(build(inFitsShape(df, arrayFits)), signedZero)
        assert(out._1 == ref._1, s"arrayFits=$arrayFits") // names + types
        assert(out._2 == ref._2, s"arrayFits=$arrayFits") // exact values, NULLs included
      }
    }
    val R = SequentialKernelsReference
    val (ma1Grid, phiGrid, thetaGrid, lag2Grid) =
      (Seq(-0.8, -0.4, 0.0, 0.4, 0.8), Seq(-0.5, 0.0, 0.5, 0.9), Seq(-0.4, 0.0, 0.4),
        Seq(-0.3, 0.0, 0.3))
    both(SequentialKernels.fitMa1Full(_, k, o, "v"), R.fitMa1FullFold(df, k, o, "v", ma1Grid))
    both(SequentialKernels.fitMa3Full(_, k, o, "v"), R.fitMa3FullFold(df, k, o, "v", thetaGrid))
    both(SequentialKernels.fitArma11Full(_, k, o, "v"),
      R.fitArma11FullFold(df, k, o, "v", phiGrid, thetaGrid))
    both(SequentialKernels.fitArma21Full(_, k, o, "v"),
      R.fitArma21FullFold(df, k, o, "v", phiGrid, lag2Grid, thetaGrid))
    both(SequentialKernels.fitArma22Full(_, k, o, "v"),
      R.fitArma22FullFold(df, k, o, "v", phiGrid, lag2Grid, thetaGrid, lag2Grid))
    // a public grid holding −0.0 next to 0.0: the reference's window
    // orders them equal; the kernel normalizes −0.0 to 0.0, so it picks
    // the same winner up to the sign of zero and never reports −0.0
    val zeroGrid = Seq(0.5, -0.0, 0.0)
    both(SequentialKernels.fitMa1Full(_, k, o, "v", zeroGrid),
      R.fitMa1FullFold(df, k, o, "v", zeroGrid), signedZero = false)
    val thetas = SequentialKernels.fitMa1Full(df, k, o, "v", zeroGrid)
      .collect().map(_.getAs[Double]("ma1_theta"))
    assert(thetas.contains(0.0))
    assert(!thetas.exists(t => 1 / t == Double.NegativeInfinity))
    // a member whose arity does not match the kind fails at construction
    val e = intercept[IllegalArgumentException](graft.expr.GridFitExpr.column(
      col("c"), col("mu"), 1, "arma21", Seq(Seq(0.1, 0.2, 0.3), Seq(0.1, 0.2))))
    assert(e.getMessage.contains("arma21"))
  }

  test("arrayFits is read from the input frame's session, not the active one") {
    val other = spark.newSession()
    other.conf.set(SequentialKernels.ArrayFitsConf, "false")
    val rows = Seq(("a", 1, 1.0), ("a", 2, 3.0), ("a", 3, 2.0))
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(org.apache.spark.sql.SparkSession.active
      .conf.get(SequentialKernels.ArrayFitsConf, "true") == "true")
    def plan(df: org.apache.spark.sql.DataFrame) = SequentialKernels
      .fitMa1Full(df.toDF("k", "t", "v"), Seq("k"), Seq(col("t")), "v")
      .queryExecution.executedPlan.toString
    assert(!plan(other.createDataFrame(rows)).contains("graft_grid_fit_"))
    assert(plan(spark.createDataFrame(rows)).contains("graft_grid_fit_"))
    // the streaming shape picks the winner inside the kernel: no window
    assert(!SequentialKernels.fitArma21Full(other.createDataFrame(rows).toDF("k", "t", "v"),
      Seq("k"), Seq(col("t")), "v").queryExecution.executedPlan.toString.contains("Window"))
  }
}
