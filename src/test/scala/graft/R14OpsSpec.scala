package graft

import org.apache.spark.sql.functions._
import graft.operators.{SeriesWindow, WindowFeatures}
import graft.etl.Cleaning
import graft.post.PostProcess
import graft.sim.{Fusion, Quantize}
import graft.text.TextAnalysis

/** Round-14 surface closure: every public operator the unreachable-code
  * sweep found without a caller OR a test gets pinned here (the
  * dpRelease lesson — shipped-but-unreachable surface is where bugs
  * hide, because nothing would catch them). */
class R14OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sw = SeriesWindow(Seq(col("k")), Seq(col("t")))

  test("rollingMedian is rollingQuantile at 0.5 and matches a hand window") {
    val df = Seq((1, 1, 1.0), (1, 2, 9.0), (1, 3, 5.0), (1, 4, 7.0))
      .toDF("k", "t", "v")
    val out = df.select(col("t"),
      WindowFeatures.rollingMedian(col("v"), 3, sw).as("med"),
      WindowFeatures.rollingQuantile(col("v"), 0.5, 3, sw).as("q50"))
      .orderBy("t").as[(Int, Double, Double)].collect()
    assert(out.forall(r => r._2 == r._3))
    // trailing-3 medians: [1]=1, [1,9]=5, [1,9,5]=5, [9,5,7]=7
    assert(out.map(_._2).toSeq == Seq(1.0, 5.0, 5.0, 7.0))
  }

  test("quantileCap caps at the q-th percentile; promoUplift scales flagged rows") {
    val df = (1 to 99).map(i => (i, i.toDouble)).toDF("id", "pred")
    val capped = PostProcess.quantileCap("pred", 0.9)(df)
      .agg(max(col("pred"))).as[Double].head()
    assert(capped == 89.2) // exact interpolated p90 of 1..99 caps the tail
    val up = PostProcess.promoUplift("pred", col("id") <= 2, 1.5)(df)
      .filter(col("id") <= 3).orderBy("id").select("pred").as[Double].collect()
    assert(up.toSeq == Seq(1.5, 3.0, 3.0))
  }

  test("repairUnitPrice fixes inconsistent totals; priceAnomalyRepair caps outliers") {
    val df = Seq((10.0, 2.0, 3.0), (10.0, 2.0, 5.0), (9.0, 0.0, 4.0))
      .toDF("total", "qty", "price")
    val rep = Cleaning.repairUnitPrice("total", "qty", "price")(df)
      .orderBy("total", "price").select("price").as[Double].collect()
    // 10 != 2*3 -> repaired to 5; 10 == 2*5 kept; qty 0 row untouched
    assert(rep.toSeq == Seq(4.0, 5.0, 5.0))
    val prices = ((1 to 99).map(_.toDouble) :+ 10000.0).zipWithIndex
      .map { case (p, i) => (i, p) }.toDF("id", "p")
    val fixed = Cleaning.priceAnomalyRepair("p", capMult = 10.0)(prices)
      .agg(max(col("p"))).as[Double].head()
    // interpolated p99 of (1..99, 10000) = 99 + 0.01*(10000-99) = 198.01;
    // 10000 > 10*p99 -> the outlier snaps down to exactly p99
    assert(math.abs(fixed - 198.01) < 1e-6, s"max after repair = $fixed")
  }

  test("normalizeString trims and titlecases in place") {
    val out = Seq("  sao PAULO  ", "RIO").toDF("city")
    val got = Cleaning.normalizeString("city")(out)
      .orderBy("city").as[String].collect().toSeq
    assert(got == Seq("Rio", "Sao Paulo"))
  }

  test("tokenCountApprox counts whitespace tokens plus punctuation marks") {
    val df = Seq("hello, world!", "one two three", "").toDF("t")
    val got = df.select(TextAnalysis.tokenCountApprox(col("t")).as("n"))
      .as[Int].collect().toSeq
    // "hello, world!" = 2 tokens + 2 punct; "" splits to one empty token
    assert(got == Seq(4, 3, 1))
  }

  test("dequantize inverts int8 quantization up to half a code step") {
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f))).toDF("vec_id", "embedding")
    val back = Quantize.int8(df).orderBy("dim")
      .select(Quantize.dequantize(col("q"), col("scale")).as("x"))
      .as[Double].collect()
    val orig = Seq(0.5, -1.0, 0.25)
    back.zip(orig).foreach { case (b, o) =>
      assert(math.abs(b - o) <= 0.5 / 127.0 + 1e-9, s"$b vs $o") }
  }

  test("rrf: hand-computed fusion of two tiny rankings") {
    val a = Seq(("q", 1L, 1), ("q", 2L, 2)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq(("q", 2L, 1), ("q", 3L, 2)).toDF("query_id", "neighbor_id", "rank")
    val got = Fusion.rrf(Seq(a, b), k0 = 60, topK = 10)
      .orderBy("rank").select("neighbor_id", "rrf_score", "n_rankers")
      .as[(Long, Double, Long)].collect().toSeq
    def rec(r: Int) = math.round(1e6 / (60 + r)) / 1e6
    // doc 2 appears in both rankings -> top despite never ranking first
    assert(got.map(_._1) == Seq(2L, 1L, 3L))
    assert(got.head._2 == rec(2) + rec(1) && got.head._3 == 2L)
    assert(got(1)._2 == rec(1) && got(1)._3 == 1L)
  }

  test("theilSen: a spike cannot drag the robust slope; intercept exact on a line") {
    val line = (1 to 20).map(t => (1, t.toDouble, 5.0 + 2.0 * t))
    val spiked = line.map { case (k, x, y) => if (x == 10.0) (k, x, 1000.0) else (k, x, y) }
    val ts = graft.operators.Ols.theilSen(spiked.toDF("k", "x", "y"),
      Seq("k"), col("x"), col("y"))
      .select("ts_slope", "ts_intercept", "n_pairs")
      .as[(Double, Double, Long)].head()
    assert(ts._1 == 2.0, s"robust slope = ${ts._1}") // median slope survives the spike
    assert(ts._2 == 5.0, s"robust intercept = ${ts._2}")
    assert(ts._3 == 190L) // C(20,2) pairs
    // least squares on the same data IS dragged — the contrast theilSen exists for
    val b = graft.operators.Ols.fit2(spiked.toDF("k", "x", "y"),
      Seq("k"), col("x"), col("x") * col("x"), col("y"))
      .select("b1").as[Double].head()
    assert(math.abs(b - 2.0) > 1.0, s"OLS slope = $b")
  }

  test("theilSen: equal-x pairs excluded; single-x series absent") {
    val df = Seq((1, 1.0, 2.0), (1, 1.0, 8.0), (1, 3.0, 6.0),
      (2, 5.0, 1.0), (2, 5.0, 9.0)).toDF("k", "x", "y")
    val out = graft.operators.Ols.theilSen(df, Seq("k"), col("x"), col("y"))
      .select("k", "n_pairs").as[(Int, Long)].collect().toMap
    assert(out == Map(1 -> 2L)) // series 2 has one distinct x -> absent
  }

  test("mannKendall: hand values on a monotone series; ties zero out") {
    val up = Seq((1, 1.0, 2.0), (1, 2.0, 5.0), (1, 3.0, 7.0), (1, 4.0, 9.0))
      .toDF("k", "x", "y")
    val r = graft.operators.Ols.mannKendall(up, Seq("k"), col("x"), col("y"))
      .select("n_obs", "mk_s", "var_s", "mk_z", "mk_tau")
      .as[(Double, Long, Double, Double, Double)].head()
    assert(r._1 == 4.0 && r._2 == 6L) // all C(4,2)=6 pairs ascending
    // Var(S) = 4*3*13/18 = 8.6667; z = (6-1)/sqrt(var) = 1.6984; tau = 1
    assert(r._3 == 8.6667 && r._4 == 1.6984 && r._5 == 1.0, s"$r")
    val tied = Seq((1, 1.0, 3.0), (1, 2.0, 3.0), (1, 3.0, 3.0)).toDF("k", "x", "y")
    val t = graft.operators.Ols.mannKendall(tied, Seq("k"), col("x"), col("y"))
      .select("mk_s", "var_s", "mk_z").as[(Long, Double, Double)].head()
    assert(t == ((0L, 0.0, 0.0))) // tie correction removes ALL variance
  }

  test("ljungBox: trending series fails whiteness, noise does not, constant is 0") {
    val ns = noiseLike(99L)
    val noise = (1 to 60).map(t => (1, t, ns.next())).toDF("k", "t", "v")
    val trend = (1 to 60).map(t => (2, t, t.toDouble)).toDF("k", "t", "v")
    val const = (1 to 60).map(t => (3, t, 4.0)).toDF("k", "t", "v")
    val all = noise.unionByName(trend).unionByName(const)
    val q = graft.seq.YuleWalker.ljungBox(all, Seq("k"), Seq(col("t")), "v")
      .orderBy("k").select("k", "n_obs", "lb_q")
      .as[(Int, Double, Double)].collect()
    assert(q.forall(_._2 == 60.0))
    // chi2(5) 99th percentile ~ 15.1: trend blows way past, noise stays low
    assert(q(0)._3 < 15.0, s"noise Q = ${q(0)._3}")
    assert(q(1)._3 > 100.0, s"trend Q = ${q(1)._3}")
    assert(q(2)._3 == 0.0) // degenerate: ok-gate
  }

  private def noiseLike(seed: Long): Iterator[Double] = {
    val rnd = new java.util.Random(seed)
    Iterator.continually(rnd.nextDouble() - 0.5)
  }

  test("kmvOverlap: exact below k — support, intersection, Jaccard by hand") {
    import graft.operators.SketchRollup
    // audiences: A = {1..20}, B = {11..30} (overlap 10), C = {100..105}
    val rows = (1 to 20).map(v => ("A", v.toLong)) ++
      (11 to 30).map(v => ("B", v.toLong)) ++
      (100 to 105).map(v => ("C", v.toLong))
    val sk = SketchRollup.kmvSketchTable(rows.toDF("aud", "item"),
      Seq("aud"), lit(0), col("item")).drop("period")
    val out = SketchRollup.kmvOverlap(sk, "aud")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
         r.getDouble(6)))).toMap
    // |A∪B| = 30 < k=32 -> everything exact
    assert(out(("A", "B")) == ((30L, 10L, 30.0, 0.3333, 10.0)))
    // disjoint pairs: intersection and Jaccard exactly zero
    assert(out(("A", "C"))._2 == 0L && out(("A", "C"))._5 == 0.0)
    assert(out(("B", "C"))._4 == 0.0)
  }

  test("ccf: a delayed copy peaks at its true lead-lag offset; constants zero out") {
    val ns = noiseLike(5L)
    val x = (1 to 80).map(_ => ns.next())
    // y_t = x_{t-2}: y is a DELAYED copy, so x correlates with y two
    // steps AHEAD -> the CCF peak sits at lag = -2
    val rows = (3 to 80).map(t => (1, t, x(t - 1), x(t - 3))) ++
      (1 to 20).map(t => (2, t, t.toDouble, 5.0)) // constant y: degenerate
    val out = graft.seq.CrossCorr.ccf(rows.toDF("k", "t", "x", "y"),
      Seq("k"), Seq(col("t")), "x", "y", maxLag = 3)
      .collect().map(r => ((r.getInt(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(out((1, -2L)) > 0.9, s"peak = ${out((1, -2L))}")
    assert(Seq(-3L, -1L, 0L, 1L, 2L, 3L).forall(l => out((1, l)) < 0.5),
      s"off-peak = $out")
    assert(Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L).forall(l => out((2, l)) == 0.0))
  }
}
