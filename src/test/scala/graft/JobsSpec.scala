package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composed-job invariants for the application layer (the per-leg math
  * is oracle-proven via q96/q137/q192/q200 — here we pin the report's
  * structure and the status-ladder consistency). */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("monitorRun: one tall alert frame with all three check legs") {
    val out = graft.app.Jobs.monitorRun(spark, dir).cache()
    try {
      assert(out.columns.toSeq ==
        Seq("check_name", "check_key", "metric_value", "status"))
      val byCheck = out.groupBy("check_name").count()
        .as[(String, Long)].collect().toMap
      assert(byCheck.keySet == Set("kpi_wmape", "psi_drift", "rule_violation"))
      assert(byCheck("psi_drift") == 1L)
      assert(byCheck("rule_violation") == 3L)
      assert(byCheck("kpi_wmape") >= 1L) // one row per observed month
      assert(out.filter(col("metric_value").isNull).count() == 0)
    } finally out.unpersist()
  }

  test("monitorRun: statuses are consistent with their metric ladders") {
    val rows = graft.app.Jobs.monitorRun(spark, dir)
      .select("check_name", "metric_value", "status")
      .as[(String, Double, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (check, v, status) =>
      assert(Set("OK", "WARN", "CRIT")(status), s"$check status=$status")
      check match {
        case "kpi_wmape" =>
          // ladder 20/30 on the (rounded-at-output) WMAPE
          if (v >= 30.0001) assert(status == "CRIT", s"wmape=$v")
          else if (v < 19.9999) assert(status != "CRIT", s"wmape=$v")
        case "psi_drift" =>
          if (v >= 0.25) assert(status == "CRIT", s"psi=$v")
          else if (v < 0.1) assert(status == "OK", s"psi=$v")
        case "rule_violation" =>
          if (v >= 0.05) assert(status == "CRIT", s"rate=$v")
          else if (v < 0.01) assert(status == "OK", s"rate=$v")
      }
    }
  }

  test("evaluateForecast pins exact quantiles regardless of the session scale conf") {
    val key = graft.functions.Funcs.ExactPercentilesConf
    val exact = graft.app.Jobs.evaluateForecast(spark, dir).collect().toSeq
    // flip the engine-wide scale posture to t-digest: the composed job
    // passes exact=Some(true) to splitConformal (as its q176 oracle
    // hardcodes quantile_cont), so the report must not move
    spark.conf.set(key, "false")
    try {
      val underApprox = graft.app.Jobs.evaluateForecast(spark, dir).collect().toSeq
      assert(underApprox == exact)
    } finally spark.conf.unset(key)
  }

  test("etlObserved: the audit rides the job and matches a direct recount") {
    val (weekly, obs) = graft.app.Jobs.etlObserved(spark, dir)
    val weeklyRows = weekly.count() // the action that completes the observation
    val m = obs.get
    // mass conservation: the audited pre-aggregation quantity mass
    // equals the weekly aggregate's total
    val weeklyMass = weekly.agg(sum(col("qty_sum"))).head().getDouble(0)
    assert(math.abs(m("qty_mass").asInstanceOf[Double] - weeklyMass) < 1e-6)
    assert(m("rows_enriched").asInstanceOf[Long] > weeklyRows) // aggregation reduces
    assert(m("negative_qty").asInstanceOf[Long] == 0L) // positiveOnly upstream
    assert(m("unknown_joins").asInstanceOf[Long] >= 0L)
  }

  test("championBacktest: three strategies, identical holdout coverage") {
    val rows = graft.app.Jobs.championBacktest(spark, dir, h = 3)
      .as[(String, Double, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("blend", "champion", "naive"))
    // every strategy forecasts the SAME holdout points
    assert(rows.map(r => (r._3, r._4)).distinct.length == 1)
    rows.foreach { case (s, wmape, n, k) =>
      assert(!wmape.isNaN && wmape >= 0.0, s"$s wmape=$wmape")
      assert(n == 3 * k, s"$s points=$n series=$k")
    }
  }

  test("championSubmission: every series ships 5 validated champion rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_champ").toString
    val out = graft.app.Jobs.championSubmission(spark, dir, tmp).cache()
    try {
      assert(out.columns.toSeq == Seq("semana", "pdv", "produto", "quantidade"))
      val series = out.select("pdv", "produto").distinct().count()
      assert(series > 0)
      assert(out.count() == series * 5, "a series is missing forecast steps")
      assert(out.filter(col("quantidade") < 0).count() == 0)
      // every (series, step) cell is present exactly once
      assert(out.groupBy("pdv", "produto", "semana").count()
        .filter(col("count") =!= 1).count() == 0)
    } finally out.unpersist()
  }

  test("championSubmission releases every checkpoint it pins") {
    // the materialized grid must not outlive the call: persistentRdds
    // holds strong references, so a leaked block set grows the heap with
    // every submission
    val sc = spark.sparkContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_champ_rel").toString
    Seq[(SparkSession, String, String) => DataFrame](
      graft.app.Jobs.championSubmission, graft.app.Jobs.forecastSubmission)
      .foreach { leg =>
        val before = sc.getPersistentRDDs.keySet
        leg(spark, dir, tmp)
        assert(sc.getPersistentRDDs.keySet == before)
      }
  }

  test("diagnosticsRun: one alert frame with drift, quality and health legs") {
    val out = graft.app.Jobs.diagnosticsRun(spark, dir).cache()
    try {
      assert(out.columns.toSeq ==
        Seq("check_name", "check_key", "metric_value", "status"))
      val byName = out.collect().groupBy(_.getAs[String]("check_name"))
      // drift: target/residual channels + the performance row
      assert(byName("drift").map(_.getAs[String]("check_key")).toSet ==
        Set("target", "residual", "performance"))
      byName("drift").foreach(r0 =>
        assert(Set("OK", "CRIT").contains(r0.getAs[String]("status"))))
      // quality: a letter grade and a bounded score
      val q = byName("quality").head
      assert(Set("A", "B", "C", "D", "F").contains(q.getAs[String]("status")))
      assert(q.getAs[Double]("metric_value") >= 0 &&
        q.getAs[Double]("metric_value") <= 100)
      // health: composite in [0,100] with the alert ladder
      val h = byName("health").head
      assert(h.getAs[Double]("metric_value") >= 0 &&
        h.getAs[Double]("metric_value") <= 100)
      assert(Set("OK", "WARN", "CRIT").contains(h.getAs[String]("status")))
    } finally out.unpersist()
  }

  test("competitiveSubmission: zone factor shifts the shipped totals") {
    // board where our score 0.5 is rank 1 of 12 → leader → ×1.01;
    // board where our 5.0 is rank 4 (three scores below) with the 3rd
    // score 0.4 away → ×0.98. Same forecasts underneath, so the
    // aggressive total must come in at or below the conservative one.
    val far = (1 to 12).map(i => (s"t$i", i * 10.0)).toDF("team", "score")
    val near = (Seq(4.0, 4.3, 4.6) ++ (4 to 12).map(_ + 6.0)).zipWithIndex
      .map { case (s, i) => (s"t$i", s) }.toDF("team", "score")
    val t1 = java.nio.file.Files.createTempDirectory("graft_comp1").toString
    val t2 = java.nio.file.Files.createTempDirectory("graft_comp2").toString
    val lead = graft.app.Jobs.competitiveSubmission(spark, dir, t1, far, 0.5)
    val aggr = graft.app.Jobs.competitiveSubmission(spark, dir, t2, near, 5.0)
    val leadTotal = lead.agg(sum(col("quantidade"))).collect().head.getLong(0)
    val aggrTotal = aggr.agg(sum(col("quantidade"))).collect().head.getLong(0)
    assert(lead.filter(col("quantidade") < 0).count() == 0)
    assert(leadTotal > 0 && aggrTotal > 0)
    // ×0.98 vs ×1.01 on identical pre-adjustment grids
    assert(aggrTotal <= leadTotal)
    // both validate through the submission contract (the sink ran
    // isValid); structural sanity on the shipped grid
    assert(lead.columns.toSeq == Seq("semana", "pdv", "produto", "quantidade"))
  }

  test("competitiveFactor: the 3rd score counts tied scores, one per board row") {
    // sorted scores 1, 2, 2, 2, 9, 10, ...: the 3rd-lowest is 2.0 (a tie
    // at places 2-4), not 9.0 (the 3rd distinct score)
    val tied = (Seq(1.0, 2.0, 2.0, 2.0) ++ (9 to 20).map(_.toDouble)).zipWithIndex
      .map { case (sc, i) => (s"t$i", sc) }.toDF("team", "score")
    // rank 5 (contender), gap |3.5 - 2| = 1.5 < 2.0 → ×0.98
    assert(graft.app.Jobs.competitiveFactor(tied, 3.5) == 0.98)
    // rank 5, gap 2.5 → ×1.0
    assert(graft.app.Jobs.competitiveFactor(tied, 4.5) == 1.0)
    // rank 2 → leader → ×1.01
    assert(graft.app.Jobs.competitiveFactor(tied, 1.5) == 1.01)
    // fewer than three rows: every score ranks in the leader zone
    val two = Seq(("a", 0.5), ("b", 0.7)).toDF("team", "score")
    assert(graft.app.Jobs.competitiveFactor(two, 9.0) == 1.01)
  }

  test("SparkEntry.entry: a one-row forecast scorecard at sf0.001") {
    val rows = graft.SparkEntry.entry(spark).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.schema.fieldNames.toSeq ==
      Seq("wmape", "mape", "smape", "mae", "rmse", "bias", "n_rows"))
    assert(r.getAs[Long]("n_rows") > 0L)
    Seq("wmape", "smape", "mae", "rmse").foreach { c =>
      val v = r.getAs[Double](c)
      assert(!v.isNaN && v >= 0.0, s"$c=$v")
    }
    assert(r.getAs[Double]("rmse") >= r.getAs[Double]("mae"))
  }
}
