package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, CaseWhen, CreateNamedStruct, Expression, GetStructField, GreaterThanOrEqual, If, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.GraftSqlBridge
import graft.expr.GridFitExpr
import graft.seq.Champion

/** Champion model-selection contracts (the auto-ARIMA pick, reference
  * src/models/arima_temporal.py:277-361): eight series engineered so
  * that EACH family member dominates the AIC scoreboard on exactly one
  * of them, plus shape and partitioning-invariance contracts on the
  * winner's forecast output, row-for-row parity of every consumer with
  * [[ChampionReference]] (the two-pipeline member form it replaced) —
  * on planted, edge, boundary-length and real weekly series — and the
  * executed plan's shape, length pruning included. */
class ChampionSpec extends SparkSpec {
  import spark.implicits._

  private def r4(x: Double): Double = math.round(x * 1e4) / 1e4

  /** Deterministic 4dp white noise in [−4, 4] (splitmix64-style index
    * hash — no RNG object, so the series, and therefore the champion,
    * is a fixed contract; a low-discrepancy sequence would be
    * AR-predictable and let ar2 steal every series). */
  private def noise(i: Int): Double = {
    var z = (i + 1L) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    r4(((z >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 8.0)
  }

  private val pat = Seq(10.0, 50.0, 20.0, 80.0, 30.0, 90.0, 40.0, 100.0,
    60.0, 110.0, 70.0, 120.0, 130.0)

  /** Self-consistent damped-Holt series: from t = 3 every value IS the
    * member's one-step prediction r4(l_{t−1} + 0.9·b_{t−1}) computed
    * through the same level/trend recursion, so its SSE is exactly 0;
    * ar2/ari also track the underlying 2nd-order recurrence but keep
    * 4dp rounding residue (and pay k = 3 vs 2 even when clamped), so
    * holt_damped wins. Returns (series, final level, final trend). */
  private def holtSelfConsistent(n: Int): (Seq[Double], Double, Double) = {
    val xs = collection.mutable.ArrayBuffer(100.0, 102.0)
    var lvl = 0.3 * 102.0 + 0.7 * 100.0
    var tr = 2.0
    var lastx = 102.0
    (3 to n).foreach { _ =>
      val x = r4(lvl + 0.9 * tr)
      xs += x
      val nl = 0.3 * x + 0.7 * lvl
      tr = 0.1 * (x - lastx) + 0.9 * tr
      lvl = nl
      lastx = x
    }
    (xs.toSeq, lvl, tr)
  }

  private lazy val (holtSeries, holtL, holtB) = holtSelfConsistent(60)

  private def planted: Seq[(String, Int, Double)] = {
    // constant → the mean member (everything ties at SSE 0; the mean's
    // largest n_eff and smallest k win the clamped-AIC comparison)
    val mean = (1 to 20).map(t => ("mean", t, 5.0))
    // period-13 repetition → snaive's lag-13 fit is exact
    val snaive = (1 to 30).map(t => ("snaive", t, pat((t - 1) % 13)))
    // noise-free AR(2) transient: OLS recovers the generator, nothing
    // else (the decay is not collinear in one lag, not a unit root)
    val ar2 = {
      val b = collection.mutable.ArrayBuffer(100.0, 50.0)
      (3 to 40).foreach(t => b += r4(10.0 + 0.3 * b(t - 2) + 0.2 * b(t - 3)))
      b.toSeq.zipWithIndex.map { case (v, i) => ("ar2", i + 1, v) }
    }
    // exact ramp: first differences are constant, the diff-fit is
    // exact; the level fit (ar2) is collinear and falls back
    val ari = (1 to 30).map(t => ("ari", t, 3.0 * t))
    // MA(1) at grid θ = 0.8: the AR(∞) tail (π₃ = 0.512) keeps any
    // 2-lag AR approximation measurably worse than the exact filter;
    // n = 120 so AIC resolves the gap past OLS in-sample overfit
    val ma1 = {
      val es = (0 to 120).map(noise)
      (1 to 120).map(t => ("ma1", t, r4(50.0 + es(t) + 0.8 * es(t - 1))))
    }
    // ARMA(1,1) at the exact grid pair (0.9, 0.4): near-unit-root AR
    // with a real MA part — pure-AR truncations and differencing both
    // lose to the joint filter at n = 150
    val arma = {
      val es = (0 to 150).map(i => noise(i + 77) / 2)
      val b = collection.mutable.ArrayBuffer(50.0)
      (2 to 150).foreach(t =>
        b += r4(50.0 + 0.9 * (b(t - 2) - 50.0) + es(t) + 0.4 * es(t - 1)))
      b.toSeq.zipWithIndex.map { case (v, i) => ("arma11", i + 1, v) }
    }
    // mild trend under heavy white noise: theta's ½·trend + ½·SES
    // damps the noise where differencing (ari) doubles its variance
    // and a level AR pays for the trend
    val theta = (1 to 150).map(t => ("theta", t, r4(0.1 * t + 1.5 * noise(t + 31))))
    val holt = holtSeries.zipWithIndex.map { case (v, i) => ("holt", i + 1, v) }
    mean ++ snaive ++ ar2 ++ ari ++ ma1 ++ arma ++ theta ++ holt
  }

  private lazy val result = Champion.championForecast(
    planted.toDF("k", "t", "v"), Seq("k"), Seq(col("t")), "v", h = 4, m = 13)
    .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
      r.getLong(3), r.getDouble(4)))

  test("each planted series crowns its intended family member") {
    val champs = result.map(r => (r._1, r._2)).distinct.toMap
    assert(champs == Map(
      "mean" -> "mean_naive", "snaive" -> "snaive", "ar2" -> "ar2",
      "ari" -> "ari", "ma1" -> "ma1", "arma11" -> "arma11",
      "theta" -> "theta", "holt" -> "holt_damped"))
  }

  test("one champion and exactly h forecast steps per series") {
    result.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).distinct.length == 1)
      assert(rows.map(_._4).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      assert(rows.map(_._3).distinct.length == 1) // one AIC per series
    }
  }

  test("winning members forecast with their own machinery") {
    val by = result.groupBy(_._1).map { case (k, rows) =>
      k -> rows.sortBy(_._4).map(_._5).toSeq
    }
    assert(by("mean") == Seq(5.0, 5.0, 5.0, 5.0))
    // snaive: f_s = x_{n+s−13}; n = 30 → pattern positions 18..21
    assert(by("snaive") == (18 to 21).map(t => pat((t - 1) % 13)))
    // ari on the exact ramp extends it: 3·(30+s)
    assert(by("ari") == Seq(93.0, 96.0, 99.0, 102.0))
    // ar2's transient converged to the fixed point 10/(1−0.3−0.2) = 20
    assert(by("ar2") == Seq(20.0, 20.0, 20.0, 20.0))
    // holt: damped extrapolation from the generator's own final state
    val damps = graft.seq.SequentialKernels.dampSums(0.9, 4)
    val (l, b) = (r4(holtL), r4(holtB))
    assert(by("holt") == damps.map(d => r4(l + b * d)))
  }

  test("champion pick and forecasts are partitioning-invariant") {
    val eight = Champion.championForecast(
      planted.toDF("k", "t", "v").repartition(8), Seq("k"), Seq(col("t")),
      "v", h = 4, m = 13)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    assert(eight.sortBy(r => (r._1, r._4)).toSeq ==
      result.sortBy(r => (r._1, r._4)).toSeq)
  }

  private lazy val blended = Champion.blendForecast(
    planted.toDF("k", "t", "v"), Seq("k"), Seq(col("t")), "v", h = 4, m = 13)
    .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      r.getLong(3)))

  test("blend shape: h steps per series, every scored member contributes") {
    blended.groupBy(_._1).foreach { case (k, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L), k)
      // the member count is constant across a series' steps
      assert(rows.map(_._4).distinct.length == 1, k)
      assert(rows.head._4 >= 1, k)
    }
  }

  test("a single-member series blends to exactly that member's forecast") {
    // length-1 series: only the always-eligible mean member scores
    val solo = Champion.blendForecast(
      Seq(("s", 1, 42.0)).toDF("k", "t", "v"), Seq("k"), Seq(col("t")),
      "v", h = 3, m = 13)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(solo == Seq((1L, 42.0, 1L), (2L, 42.0, 1L), (3L, 42.0, 1L)))
  }

  test("a dominant member's blend collapses to the champion forecast") {
    // the planted ari ramp fits exactly (SSE ≈ 0) while every rival
    // carries real error, so Δ-AIC ≫ 0 for the rest: the Akaike
    // weights put ~all mass on the champion
    val champ = result.filter(_._1 == "ari").sortBy(_._4).map(_._5).toSeq
    val blend = blended.filter(_._1 == "ari").sortBy(_._2).map(_._3).toSeq
    champ.zip(blend).foreach { case (c, b) =>
      assert(math.abs(c - b) <= math.max(0.01, 0.001 * math.abs(c)),
        s"champion $c vs blend $b")
    }
  }

  test("blend is partitioning-invariant") {
    val eight = Champion.blendForecast(
      planted.toDF("k", "t", "v").repartition(8), Seq("k"), Seq(col("t")),
      "v", h = 4, m = 13)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    assert(eight.sortBy(r => (r._1, r._2)).toSeq ==
      blended.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("scoreboard: rank-1 row IS the champion, ranks are a permutation") {
    val sb = Champion.scoreboard(planted.toDF("k", "t", "v"), Seq("k"),
      Seq(col("t")), "v", h = 4, m = 13)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(5),
        r.getLong(6)))
    val champs = result.map(r => (r._1, r._2)).distinct.toMap
    val rank1 = sb.filter(_._4 == 1L).map(r => (r._1, r._2)).toMap
    assert(rank1 == champs)
    // ranks within each series are 1..n_members with matching AIC order
    sb.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq)
      assert(rows.sortBy(_._4).map(_._3).toSeq ==
        rows.map(_._3).sorted.toSeq)
    }
  }

  // ---- parity with the replaced two-pipeline member form

  /** Series of length 1, 2, 3, 13, 14 and 30 (noise around a level, so
    * members enter the scoreboard one length threshold at a time), an
    * all-zero series, and two length-2 series whose mean_naive and
    * theta AICs tie exactly on the 4dp grid (SSEs c² and 2c² with
    * ln(c²) within 3e-5 of 2: both AICs round to 6.0000). */
  private def edgeSeries: Seq[(String, Int, Double)] = {
    val lens = Seq(1, 2, 3, 13, 14, 30).flatMap { n =>
      (1 to n).map(t => (s"len$n", t, r4(50.0 + 0.5 * t + 4.0 * noise(n * 1000 + t))))
    }
    val zeros = (1 to 20).map(t => ("zeros", t, 0.0))
    val ties = Seq(("tie_a", 1, 10.0), ("tie_a", 2, 15.4366),
      ("tie_b", 1, 10.0), ("tie_b", 2, 15.4364))
    lens ++ zeros ++ ties
  }

  private def rowsOf(df: DataFrame): (Seq[String], Seq[String]) =
    (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (gc, gr) = rowsOf(got)
    val (wc, wr) = rowsOf(want)
    assert(gc == wc, s"$what columns")
    assert(gr.nonEmpty, s"$what is empty")
    assert(gr == wr, s"$what rows differ:\n  got  ${gr.diff(wr)}\n  want ${wr.diff(gr)}")
  }

  private val parityInputs = Seq("planted" -> (() => planted), "edges" -> (() => edgeSeries))

  private def release(dfs: DataFrame*): Unit =
    dfs.foreach(GraftSqlBridge.unpersistCheckpoints)

  /** championForecast, blendForecast and scoreboard (the pruned
    * one-plan consumers) each equal the reference row for row. */
  private def assertConsumersMatch(df: DataFrame, keyCols: Seq[String], ord: String,
                                   h: Int): Unit = {
    def args(f: (DataFrame, Seq[String], Seq[Column], String, Int, Int) => DataFrame): DataFrame =
      f(df, keyCols, Seq(col(ord)), "v", h, 13)
    def check(got: DataFrame, want: DataFrame, what: String): Unit =
      try assertSameRows(got, want, what) finally release(got, want)
    check(args(Champion.championForecast(_, _, _, _, _, _)),
      args(ChampionReference.championForecast(_, _, _, _, _, _)), "championForecast")
    check(args(Champion.blendForecast(_, _, _, _, _, _)),
      args(ChampionReference.blendForecast(_, _, _, _, _, _)), "blendForecast")
    check(args(Champion.scoreboard(_, _, _, _, _, _)),
      args(ChampionReference.scoreboard(_, _, _, _, _, _)), "scoreboard")
  }

  /** All four pickBlendScoreFcs frames (the unpruned member table)
    * equal the reference row for row; `frames` picks which. */
  private def assertFramesMatch(df: DataFrame, keyCols: Seq[String], ord: String, h: Int,
                                frames: Seq[Int] = Seq(0, 1, 2, 3)): Unit = {
    val got = Champion.pickBlendScoreFcs(df, keyCols, Seq(col(ord)), "v", h, 13)
    val want = ChampionReference.pickBlendScoreFcs(df, keyCols, Seq(col(ord)), "v", h, 13)
    val (gots, wants) = (Seq(got._1, got._2, got._3, got._4),
      Seq(want._1, want._2, want._3, want._4))
    val names = Seq("pick", "blend", "scoreboard", "forecast union")
    try frames.foreach(i => assertSameRows(gots(i), wants(i), names(i)))
    finally release(got._1, want._1)
  }

  private def withArrayFits[T](on: Boolean)(body: => T): T = {
    val key = graft.seq.SequentialKernels.ArrayFitsConf
    spark.conf.set(key, on.toString)
    try body finally spark.conf.unset(key)
  }

  test("the edge frame holds an exact AIC tie broken by member order") {
    val sb = Champion.scoreboard(edgeSeries.toDF("key", "t", "v"), Seq("key"),
      Seq(col("t")), "v", h = 4, m = 13)
      .filter(col("key").startsWith("tie"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(5), r.getLong(6)))
    Seq("tie_a", "tie_b").foreach { k =>
      val byRank = sb.filter(_._1 == k).sortBy(_._4)
      assert(byRank(0)._3 == byRank(1)._3, s"$k: ${byRank.toSeq}")
      assert(byRank(0)._2 == "mean_naive" && byRank(1)._2 == "theta", k)
    }
  }

  for ((name, rows) <- parityInputs; h <- Seq(4, 5)) {
    test(s"championForecast, blendForecast and scoreboard match the reference ($name, h=$h)") {
      assertConsumersMatch(rows().toDF("key", "t", "v"), Seq("key"), "t", h)
    }

    test(s"all four pickBlendScoreFcs frames match the reference ($name, h=$h)") {
      assertFramesMatch(rows().toDF("key", "t", "v"), Seq("key"), "t", h)
    }
  }

  test("parity holds under the streaming-fold grid fits (arrayFits = false)") {
    withArrayFits(false) {
      assertFramesMatch(edgeSeries.toDF("key", "t", "v"), Seq("key"), "t", 5, Seq(0, 2, 3))
    }
  }

  // ---- length pruning

  /** Series of every length 1–8 and m − 1 … m + 2 (m = 13; noise
    * around a level), plus a constant and an all-zero series: every
    * member's minimum length lies in the set with a length either side,
    * and the degenerate series score only some members however long. */
  private def boundarySeries: Seq[(String, Int, Double)] = {
    val lens = ((1 to 8) ++ (12 to 15)).flatMap { n =>
      (1 to n).map(t => (f"len$n%02d", t, r4(50.0 + 0.5 * t + 4.0 * noise(n * 1000 + t + 7))))
    }
    val const = (1 to 15).map(t => ("const", t, 5.0))
    val zeros = (1 to 15).map(t => ("zeros", t, 0.0))
    lens ++ const ++ zeros
  }

  for (h <- Seq(4, 5); arrayFits <- Seq(true, false)) {
    test(s"boundary lengths: each minimum is exact, every consumer matches the reference (h=$h, arrayFits=$arrayFits)") {
      withArrayFits(arrayFits) {
        val df = boundarySeries.toDF("key", "t", "v")
        val lens = boundarySeries.groupBy(_._1).map { case (k, rs) => k -> rs.size }
        val board = ChampionReference.scoreboard(df, Seq("key"), Seq(col("t")), "v", h, 13)
        val scored = try board.select("key", "model").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        finally release(board)
        val minLen = Champion.minLength(13)
        assert(minLen.keySet == scored.map(_._2), "one minimum per member")
        // safe: no member scores a series its minimum prunes
        scored.foreach { case (k, model) =>
          assert(lens(k) >= minLen(model), s"$model scores $k (n = ${lens(k)})")
        }
        // tight: the noise series of exactly the minimum length scores it
        minLen.foreach { case (model, n) =>
          assert(scored.contains((f"len$n%02d", model)), s"$model does not score n = $n")
        }
        assertConsumersMatch(df, Seq("key"), "t", h)
        assertFramesMatch(df, Seq("key"), "t", h)
      }
    }
  }

  test("real weekly grain (sf0.001 part x supplier): every consumer matches the reference") {
    // cached, not checkpointed: the consumers read their input directly,
    // so releasing their checkpoints would release a checkpointed input
    val weekly = graft.app.Jobs.etl(spark, "/root/testdata/sf0.001")
      .select(col("l_partkey"), col("l_suppkey"), col("week_start"), col("qty_sum").as("v"))
      .cache()
    try {
      val keys = Seq("l_partkey", "l_suppkey")
      assert(weekly.select(keys.map(col): _*).distinct().count() > 1000)
      assertConsumersMatch(weekly, keys, "week_start", 5)
      assertFramesMatch(weekly, keys, "week_start", 5)
    } finally weekly.unpersist()
  }

  // ---- plan shape

  /** A node's inputs through adaptive wrappers, query stages and reused
    * exchanges (a reused exchange leads to the subtree it reuses). */
  private def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  /** Every node of an executed plan, each stage once: a reused exchange
    * is counted as itself, not as a second copy of the subtree it reuses. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: inputs(other).flatMap(planNodes)
  }

  /** Every node below `p`, reused subtrees included. */
  private def subtree(p: SparkPlan): Seq[SparkPlan] = p +: inputs(p).flatMap(subtree)

  test("plan shape: each member kernel runs once, nothing is keyed on the member") {
    val fc = Champion.championForecast(edgeSeries.toDF("key", "t", "v"), Seq("key"),
      Seq(col("t")), "v", h = 5, m = 13)
    fc.collect()
    val nodes = planNodes(fc.queryExecution.executedPlan)
    def kernelCount(name: String): Int = nodes.map(_.expressions
      .map(_.collect { case e if e.prettyName == name => e }.size).sum).sum
    Seq("graft_grid_fit_ma1", "graft_grid_fit_arma11", "graft_holt", "graft_ewma")
      .foreach(k => assert(kernelCount(k) == 1, s"$k appears ${kernelCount(k)} times"))
    def onModel(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
      es.exists(_.references.exists(_.name == "model"))
    val keyedOnModel = nodes.collect {
      case x: ShuffleExchangeExec if onModel(x.outputPartitioning match {
        case hp: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => hp.expressions
        case _ => Nil
      }) => x
      case j: SortMergeJoinExec if onModel(j.leftKeys) => j
      case j: ShuffledHashJoinExec if onModel(j.leftKeys) => j
      case j: BroadcastHashJoinExec if onModel(j.leftKeys) => j
    }
    assert(keyedOnModel.isEmpty, keyedOnModel.mkString("\n"))
  }

  /** The series-length column, as an attribute or a struct field. */
  private def isLength(e: Expression): Boolean = e match {
    case a: Attribute => a.name == Champion.LenCol
    case f: GetStructField => f.extractFieldName == Champion.LenCol
    case _ => false
  }

  /** Each grid kernel a node evaluates only where the series length
    * reaches a literal k: (kernel kind, k). */
  private def kernelGuards(p: SparkPlan): Seq[(String, Int)] = {
    def guard(cond: Expression, value: Expression): Seq[(String, Int)] = (cond, value) match {
      case (GreaterThanOrEqual(n, Literal(k, _)), g: GridFitExpr) if isLength(n) =>
        Seq(g.kind -> k.toString.toInt)
      case _ => Nil
    }
    p.expressions.flatMap(_.collect {
      case CaseWhen(Seq((cond, value)), _) => guard(cond, value)
      case If(cond, value, _) => guard(cond, value)
    }.flatten)
  }

  /** Each member row a node builds only where the series length reaches
    * a literal k: (member, k). */
  private def memberGuards(p: SparkPlan): Seq[(String, Int)] = p.expressions.flatMap(_.collect {
    case CaseWhen(Seq((GreaterThanOrEqual(n, Literal(k, _)), s: CreateNamedStruct)),
      None) if isLength(n) => s.valExprs.head.toString -> k.toString.toInt
  })

  test("plan guard: pruned kernels and member rows run only on series at their minimum") {
    val fc = Champion.championForecast(boundarySeries.toDF("key", "t", "v"), Seq("key"),
      Seq(col("t")), "v", h = 5, m = 13)
    fc.collect()
    val nodes = subtree(fc.queryExecution.executedPlan)
    val minLen = Champion.minLength(13)
    // the grid kernels: each evaluated only under its member's minimum
    val kernels = nodes.flatMap(_.expressions).flatMap(_.collect { case g: GridFitExpr => g })
    val guarded = nodes.flatMap(kernelGuards)
    assert(kernels.size == 2 && guarded.size == 2,
      nodes.flatMap(_.expressions).filter(_.exists(_.isInstanceOf[GridFitExpr])).mkString("\n"))
    assert(guarded.toMap == Map("ma1" -> minLen("ma1"), "arma11" -> minLen("arma11")))
    // the explode builds each member's row only where the series reaches
    // the member's minimum (mean_naive's is 1: every series)
    val rows = nodes.collect { case g: GenerateExec => memberGuards(g) }.filter(_.nonEmpty)
    assert(rows.size == 1, nodes.mkString("\n"))
    assert(rows.head.toMap == minLen - "mean_naive" && rows.head.size == minLen.size - 1,
      rows.head)
  }

  test("plan guard: pickBlendScoreFcs fits every member on every series") {
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val got = try {
      val got = Champion.pickBlendScoreFcs(boundarySeries.toDF("key", "t", "v"), Seq("key"),
        Seq(col("t")), "v", h = 5, m = 13)
      GraftSqlBridge.statusJobs(spark) // drains the listener bus
      got
    } finally spark.listenerManager.unregister(listener)
    try {
      val tables = plans.synchronized(plans.toList)
        .filter(p => subtree(p).exists(_.isInstanceOf[GenerateExec]))
      assert(tables.nonEmpty, "the member table's checkpoint was not seen")
      val nodes = tables.flatMap(subtree)
      assert(nodes.flatMap(kernelGuards).isEmpty && nodes.flatMap(memberGuards).isEmpty)
    } finally release(got._1)
  }
}
