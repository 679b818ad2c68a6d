package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.app.Jobs
import graft.core.Tables
import graft.seq.Champion

/** Physical-plan assertions: the scale-critical properties the engine
  * promises — pushdown, pruning, broadcast joins, no cartesian
  * products — checked against actual executed plans over the test
  * parquet (S1/S2 and the §4 optimizer mapping). */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("S2: filters reach the parquet scan as PushedFilters") {
    val plan = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 10 && col("l_returnflag") === "N")
      .select("l_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)")
      || plan.contains("GreaterThan(l_quantity,10.0)"), plan)
  }

  test("S1: projection prunes the read schema to selected columns") {
    val plan = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("q303: the band-join rewrite hot path is the binned equi-join") {
    val plan = SparkEntry.queries("q303_range_rewrite")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("__graft_bin"), plan) // rewrite actually fired
    // the ONLY nested-loop node is the span-guarded wide-interval
    // fallback branch (empty here — every brand band spans ≤ 4096 bins;
    // AQE folds the empty-side join at runtime)
    assert(plan.split("BroadcastNestedLoopJoin").length <= 2, plan)
  }

  test("q315: the interval-overlap join is a bucket equi-join, never a nested loop") {
    val plan = SparkEntry.queries("q315_overlap_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("__bl"), plan) // bucket key reached the join
  }

  test("q312: the boilerplate census joins on an equi key; no nested loop") {
    val plan = SparkEntry.queries("q312_boilerplate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q325: partial aggregation runs BEFORE the rolling window (skew-proof shape)") {
    val plan = SparkEntry.queries("q325_partialed_rolling")(spark, dir)
      .queryExecution.executedPlan.toString
    // the window's input is the (key, bucket) aggregate, never the raw
    // fact: a HashAggregate must sit below the Window node, and the
    // window frame is the RANGE form on the bucket
    val winIdx = plan.indexOf("Window")
    assert(winIdx > 0, plan)
    assert(plan.indexOf("HashAggregate", winIdx) > 0, plan) // agg below window
    assert(plan.contains("RangeFrame"), plan)
    // the row skew is absorbed MAP-SIDE: a partial aggregate must run
    // before any exchange carries fact rows
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q326: sampled Theil-Sen joins endpoints by rank — no pairwise self-join") {
    val plan = SparkEntry.queries("q326_theil_sen_sampled")(spark, dir)
      .queryExecution.executedPlan.toString
    // every join is an equi-join on (series, rank); the exact
    // operator's O(n^2) inequality self-join must be absent
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("__pi"), plan) // the drawn rank reached a join key
  }

  test("J1: dimension enrichment joins broadcast, never shuffle the fact") {
    val plan = SparkEntry.queries("q23_enrich_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("window features reuse one exchange on the series key") {
    val plan = SparkEntry.queries("q40_rolling_stats")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n$plan")
  }

  test("wide feature store: temporal+behavioral families ride ONE series exchange") {
    val weekly = graft.etl.Enrichment.weeklyAggregate(
      Tables.lineitem(spark, dir), col("l_shipdate"),
      Seq(col("l_partkey"), col("l_suppkey")), col("l_quantity"))
    val plan = graft.operators.FeatureStore.wide(weekly,
      Seq("l_partkey", "l_suppkey"), "week_start", "qty_sum")
      .queryExecution.executedPlan.toString
    // Exchange budget: 1 weekly-grain groupBy (fact) + 1 series exchange.
    // The EWMA kernel is a running window aggregate on the same series
    // window, so it shares that exchange with the window families; ~60
    // window columns must NOT each add an exchange.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"$exchanges exchanges:\n$plan")
  }

  test("sessionization: lag + running session counter share ONE user exchange") {
    val plan = SparkEntry.queries("q116_sessionize")(spark, dir)
      .queryExecution.executedPlan.toString
    // 1 exchange on user_id (both windows + the final groupBy reuse it)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n$plan")
  }

  test("tfidf: vocabulary-side joins broadcast; fact frame never re-shuffles for them") {
    val plan = SparkEntry.queries("q117_tfidf")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("deterministic sampling is a pure pushed filter: no shuffle before the agg") {
    val sampled = graft.functions.PortableHash.detSample(
      Tables.lineitem(spark, dir), col("l_orderkey"), 0.1)
      .select(col("l_quantity"))
    val plan = sampled.queryExecution.executedPlan.toString
    assert(!"Exchange hashpartitioning".r.findAllIn(plan).hasNext, plan)
  }

  test("as-of join is ONE key exchange — no range-pair materialization") {
    val plan = SparkEntry.queries("q118_asof")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n$plan")
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("banded range join plans as an equi-join on the bucket, not a nested loop") {
    val plan = SparkEntry.queries("q119_range_band")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("graft_dot registers as a SQL function, folds constants, codegens over tables") {
    GraftFunctions.register(spark)
    // constant args fold at optimization time (proof interpreted eval works)
    val v = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
    assert(v.head().getDouble(0) == 11.0)
    assert(v.queryExecution.optimizedPlan.toString.contains("11.0"))
    // over a real table the projection stays inside a codegen stage ("*(n)")
    Tables.embeddings(spark, dir).createOrReplaceTempView("emb_plan_test")
    val t = spark.sql("SELECT graft_dot(embedding, embedding) AS n2 FROM emb_plan_test")
    assert(t.queryExecution.executedPlan.toString.contains("*(1)"),
      t.queryExecution.executedPlan.toString)
    assert(t.agg(org.apache.spark.sql.functions.min("n2")).head().getDouble(0) > 0)
  }

  test("source mix: corpus filter rides broadcasts — only the rollup shuffles") {
    val plan = SparkEntry.queries("q131_source_mix")(spark, dir)
      .queryExecution.executedPlan.toString
    // two hash exchanges, BOTH aggregations of narrow projections (the
    // source-count agg feeding the broadcast, and the final rollup);
    // the document rows themselves ride broadcast joins + a codegen'd
    // Lehmer filter — the corpus is never hash-shuffled
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"$exchanges exchanges:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("decontamination: benchmark shingles broadcast, no sort-merge join") {
    val plan = SparkEntry.queries("q132_contamination")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bm25: df and corpus stats join broadcast; no corpus-wide sort-merge") {
    val plan = SparkEntry.queries("q133_bm25")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("span dedup: keep decision is a partial-agg, not a hot-key window") {
    val plan = SparkEntry.queries("q124_span_dedup")(spark, dir)
      .queryExecution.executedPlan.toString
    // skew posture: winners come from partial-aggregated min-struct
    // (map-side combine collapses hot spans) + a co-partitioned join —
    // 3 exchanges (winner agg, join side, doc reassembly), NO window
    // over the span partitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"$exchanges exchanges:\n$plan")
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("row_number"), plan)
  }

  test("graft_poly_fingerprint / graft_minhash_sig register on the SQL surface") {
    GraftFunctions.register(spark)
    val fp = spark.sql(
      "SELECT graft_poly_fingerprint('abcdefghij', 8) AS fp").head().getLong(0)
    assert(fp >= 0L)
    val sig = spark.sql(
      "SELECT graft_minhash_sig('the quick brown fox', 4, 32) AS s")
      .head().getSeq[Long](0)
    assert(sig.length == 32 && sig.forall(v => v >= 0L && v < 2147483647L))
    // parity with the Column-API path
    import spark.implicits._
    val viaCol = Seq("the quick brown fox").toDF("t")
      .select(graft.expr.MinHashSigExpr.column(org.apache.spark.sql.functions.col("t"), 4, 32))
      .head().getSeq[Long](0)
    assert(sig == viaCol)
  }

  test("ANN brute force broadcasts the query side, never the corpus") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val plan = graft.sim.Similarity.bruteForceTopK(emb, queries, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("AUC/KS: windows run on the distinct-score grain, after a partial agg") {
    // the fact is first collapsed by one hash-aggregate (with partial
    // map-side combine); the window sort sees O(distinct scores) rows
    val plan = SparkEntry.queries("q153_auc")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("Partial"), plan)
    // exactly: fact -> agg exchange -> window; no window before the agg
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < plan.lastIndexOf("HashAggregate"), plan)
  }

  test("chi2/MI/target-encode: marginals and totals join broadcast") {
    for (q <- Seq("q158_chi2", "q159_mutual_info", "q160_target_encode")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n$plan")
    }
  }

  test("attribution: conversions ⋈ touches is an equi-join on user, not a nested loop") {
    val plan = SparkEntry.queries("q161_attribution")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ohlc: bar windows and the final aggregate share ONE exchange") {
    val plan = SparkEntry.queries("q162_ohlc")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n$plan")
  }

  test("reconciliation / conformal: parent totals and widths join broadcast") {
    for (q <- Seq("q172_reconcile", "q173_conformal")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$q:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n$plan")
    }
  }

  test("abc/xyz: cumulative window runs on the key grain, after a partial agg") {
    val plan = SparkEntry.queries("q174_abc_xyz")(spark, dir)
      .queryExecution.executedPlan.toString
    // fact collapses through hash aggregates before any Window touches it
    assert(plan.indexOf("Window") < plan.lastIndexOf("HashAggregate"), plan)
  }

  test("profile: ONE pass over the fact — a single scan feeds every statistic") {
    val plan = SparkEntry.queries("q180_profile")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"$scans scans:\n$plan")
  }

  test("residual diagnostics scale path: analysis exchange keys on the high-cardinality slice") {
    val plan = SparkEntry.queries("q199_resid_diag_parts")(spark, dir)
      .queryExecution.executedPlan.toString
    // The ACF/runs window and the final reduction ride hashpartitioning
    // on l_partkey (assortment-sized), NOT on a #status-code dimension —
    // parallelism grows with the data.
    assert("hashpartitioning\\(l_partkey".r.findAllIn(plan).nonEmpty, plan)
    // With broadcastStats=false there is no FORCED broadcast hint: when
    // the part-grain stats frame outgrows the auto threshold (as it
    // does at 100 TB), the optimizer is free to shuffle it on the same
    // slice key the window needs. Proven by disabling the size-based
    // auto-broadcast and observing no broadcast join survives.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val noAuto = SparkEntry.queries("q199_resid_diag_parts")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!noAuto.contains("BroadcastHashJoin"), noAuto)
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("covariance matrix: within-row pair generation — one scan, no join, one exchange") {
    val plan = SparkEntry.queries("q203_covariance")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Join"), plan)
    // only the 2k-cell aggregate exchanges; nothing fact-sized shuffles
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("key stats: exactPercentiles=false swaps the per-group median to t-digest") {
    import graft.operators.AggFeatures
    val li = Tables.lineitem(spark, dir)
    // Local/oracle default: exact percentile — per-group value buffers
    // (the one documented non-scale-safe default; oracle equality needs it).
    val exact = AggFeatures.keyStats(li, Seq(col("l_returnflag")), col("l_quantity"),
      exactMedian = Some(true)).queryExecution.executedPlan.toString
    assert(exact.contains("percentile("), exact)
    // 100 TB posture (configureForScale / exactMedian=false): the median
    // becomes percentile_approx — the aggregate node is still an
    // ObjectHashAggregate (any TypedImperativeAggregate plans as one),
    // but its per-group state is a bounded t-digest sketch instead of an
    // unbounded value buffer, which is the property that matters at scale.
    val approx = AggFeatures.keyStats(li, Seq(col("l_returnflag")), col("l_quantity"),
      exactMedian = Some(false)).queryExecution.executedPlan.toString
    assert(approx.contains("percentile_approx("), approx)
    assert(!approx.contains(" percentile("), approx)
  }

  test("AR(2) fit: lag window, sums aggregate and coefficient join-back stay on the series grain") {
    val plan = SparkEntry.queries("q214_ar2")(spark, dir)
      .queryExecution.executedPlan.toString
    // weekly grain + series window + 9-sum aggregate + join-back: no
    // single-partition stage, no sort-merge join (coefs broadcast)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 4, plan)
  }

  test("Platt fit: the fact is collapsed once; Newton steps reuse the checkpointed grain") {
    val plan = SparkEntry.queries("q220_platt")(spark, dir)
      .queryExecution.executedPlan.toString
    // the grain is an eager local checkpoint — the executed plan holds
    // NO parquet scan and only the grain-sized aggregates
    assert(!plan.contains("Scan parquet"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 3, plan)
  }

  test("quantile norm: fact-sized reference ranks via range partitions, no global sort or forced broadcast") {
    val plan = SparkEntry.queries("q194_quantile_norm")(spark, dir)
      .queryExecution.executedPlan.toString
    // distributed rank path: the reference shuffles on value RANGES and
    // ranks within each range partition...
    assert(plan.contains("rangepartitioning(__rv"), plan)
    // ...so no window is keyed on the reference value without a
    // partition spec (the old one-partition global row_number)
    assert(!plan.contains("windowspecdefinition(__rv"), plan)
  }

  test("changepoint: one scan; prefix, totals and the argmin pick share the series-key exchange") {
    val plan = SparkEntry.queries("q225_changepoint")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
  }

  test("OOF encoding: the fact collapses once — prior and category window read the checkpointed grain") {
    val plan = SparkEntry.queries("q226_target_oof")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("modularity: one edge pass — community grain checkpointed, the edge mass broadcasts back") {
    val plan = SparkEntry.queries("q227_modularity")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 1, plan)
  }

  test("geo nearest: broadcast band candidates, a single argmin exchange, no cartesian") {
    val plan = SparkEntry.queries("q230_geo_nearest")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 1, plan)
  }

  test("dominant period: one scan; the rollup and argmax reuse the two series-key exchanges") {
    val plan = SparkEntry.queries("q233_dominant_period")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
  }

  test("dbscan classification: the point-grain result is pinned — the pair join never re-runs") {
    val plan = SparkEntry.queries("q228_dbscan")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("forecast family (ARI/MA1/SARI/intervals): group-keyed exchanges only") {
    Seq("q249_ari_forecast", "q250_ma1", "q251_ar_intervals",
      "q253_ma1_fit", "q254_sari_forecast").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("AR intervals: one lineitem scan and no join in the executed plan") {
    val plan = SparkEntry.queries("q251_ar_intervals")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("the seq forecasters build without running a Spark job") {
    import spark.implicits._
    val df = (1 to 30).flatMap(t => Seq(("a", t, (t % 7).toDouble), ("b", t, t.toDouble)))
      .toDF("k", "t", "v")
    val (keys, ord) = (Seq("k"), Seq(col("t")))
    val periods = Seq(("a", 7), ("b", 4)).toDF("k", "p")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val builders: Seq[(String, () => DataFrame)] = Seq(
      "Ar.forecast" -> (() => graft.seq.Ar.forecast(df, keys, ord, "v", 4)),
      "Ar.forecastIntervals" -> (() => graft.seq.Ar.forecastIntervals(df, keys, ord, "v", 4)),
      "Ar.forecastIntegrated" -> (() => graft.seq.Ar.forecastIntegrated(df, keys, ord, "v", 4)),
      "Ar.forecastSeasonalIntegrated" -> (() =>
        graft.seq.Ar.forecastSeasonalIntegrated(df, keys, ord, "v", 13, 4)),
      "Theta.forecast" -> (() => graft.seq.Theta.forecast(df, keys, ord, "v", 0.3, 4)),
      "dampedHoltForecast" -> (() => graft.seq.SequentialKernels.dampedHoltForecast(
        df, keys, ord, "v", 0.3, 0.1, 0.9, 4)),
      "holtWintersForecast" -> (() => graft.seq.SequentialKernels.holtWintersForecast(
        df, keys, ord, "v", 0.3, 0.1, 0.2, 4, 3)),
      "arima111Forecast" -> (() =>
        graft.seq.SequentialKernels.arima111Forecast(df, keys, ord, "v", 4)),
      "Baselines.forecasts" -> (() =>
        graft.seq.Baselines.forecasts(df, keys, col("t"), "v", 4, 13)),
      "Baselines.seasonalNaiveAdaptive" -> (() => graft.seq.Baselines.seasonalNaiveAdaptive(
        df, keys, col("t"), "v", periods, "p", 4)),
      "OrderSearch.arima021Full" -> (() => graft.seq.OrderSearch.arima021Full(df, keys, ord, "v")),
      "OrderSearch.sarima011Full" -> (() =>
        graft.seq.OrderSearch.sarima011Full(df, keys, ord, "v", 13)),
      "OrderSearch.sarma11Full" -> (() =>
        graft.seq.OrderSearch.sarma11Full(df, keys, ord, "v", 13)),
      "OrderSearch.seasonalBase" -> (() =>
        graft.seq.OrderSearch.seasonalBase(df, keys, ord, "v", 4, 13)),
      "YuleWalker.ar5Full" -> (() => graft.seq.YuleWalker.ar5Full(df, keys, ord, "v")))
    spark.sparkContext.addSparkListener(listener)
    try {
      val ran = builders.map { case (name, build) =>
        GraftSqlBridge.statusJobs(spark) // drains the listener bus
        val before = jobs.get
        build().queryExecution.executedPlan
        GraftSqlBridge.statusJobs(spark)
        name -> (jobs.get - before)
      }.filter(_._2 > 0)
      assert(ran.isEmpty, s"building ran Spark jobs: $ran")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("weighted quantiles: the q-list shares ONE cumulative-weight exchange") {
    val plan = SparkEntry.queries("q252_weighted_quantiles")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
  }

  test("PQ ADC: codebook and LUT joins broadcast — the code scan never sort-merges") {
    val plan = SparkEntry.queries("q264_pq_adc")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("portable ALS: scoring tail is the MIPS scan — no pair join of any kind") {
    // r17: the half-step joins are materialized behind localCheckpoints
    // and the scoring tail is the norm-pruned mipsTopK mapPartitions
    // over the broadcast item array — the FINAL plan must contain NO
    // join at all (the 12x-at-10x crossJoin form is retired; R17OpsSpec
    // pins the output to it via RecommendReference.crossScoreTopK)
    val plan = SparkEntry.queries("q283_als_portable")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("MapPartitions"), plan)
  }

  test("portable sequential patterns: every pattern probe is an equi-join on key") {
    val plan = SparkEntry.queries("q284_prefixspan_portable")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the support gate is a broadcast 1-row aggregate, not a driver scalar
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("KMV sketch: one partial-aggregable exchange per grain, no join at all") {
    val plan = SparkEntry.queries("q285_kmv_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // weekly sketch grain + range merge grain: two hash exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"$exchanges exchanges:\n$plan")
  }

  test("portable SemDeDup: pair search is an equi-join on cell, centroids broadcast") {
    val plan = SparkEntry.queries("q146_semdedup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("winnow pairs: the pair search is an equi-join on fingerprint, never cartesian") {
    val plan = SparkEntry.queries("q292_winnow_pairs")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("winnow: the codegen'd expression plan is shuffle-free (scan -> project -> generate)") {
    val plan = SparkEntry.queries("q290_winnow")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("graft_winnow"), plan)
  }

  test("k-anonymity: one hash-aggregate at the QI grain; suppression semi-join unforced") {
    val prof = SparkEntry.queries("q295_kanonymity")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!prof.contains("Join"), prof)
    val sup = SparkEntry.queries("q296_kanon_suppress")(spark, dir)
    val plan = sup.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the kept-class table is data-dependent (up to n/k rows) so the hint
    // must NOT be forced — no broadcast hint survives to the optimized plan
    assert(!sup.queryExecution.optimizedPlan.toString.contains("ResolvedHint"),
      sup.queryExecution.optimizedPlan.toString)
  }

  test("suppressBelowK degrades to a shuffle semi-join on a high-cardinality QI") {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fact = spark.range(0, 4000)
        .select(col("id"), (col("id") % 2000).as("qi")) // every class size 2
      val out = graft.etl.Privacy.suppressBelowK(fact, Seq("q" -> col("qi")), k = 2)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), plan)
      assert(!plan.contains("BroadcastHashJoin"), plan) // shuffle join when big
      assert(out.count() == 4000L)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
    }
  }

  test("als portable: scoring top-k never becomes a window sort") {
    // r17: the tail is the MIPS kernel (per-user insertion top-k inside
    // mapPartitions) — no rank window, no sort of scored item lists.
    // The bounded-heap aggregate that RecommendReference.crossScoreTopK
    // uses keeps its RecommendSpec row-for-row test.
    val plan = SparkEntry.queries("q283_als_portable")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("record linkage: pairs equi-join on the block key; the ratio frame broadcasts") {
    val plan = SparkEntry.queries("q293_record_linkage")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan) // 1-row stats frame
  }

  test("zorder profile: a single hash-aggregate exchange, no join") {
    val plan = SparkEntry.queries("q294_zorder")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n$plan")
  }

  test("audio decode: one narrow mapPartitions chain, no shuffle at all") {
    val plan = SparkEntry.queries("q287_audio_decode")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("extended order search: member fits are key-grain equi-joins, never cartesian") {
    // every new member (arima021 / arima211 / sari) is a per-series
    // fold or window plus key-grain aggregates — the scoreboard union
    // must contain no cartesian or nested-loop join anywhere
    val plan = SparkEntry.queries("q299_order_search_ext")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q270: the fused importance monitor scans the fact exactly ONCE " +
    "(both period slices via conditional aggregation)") {
    // at 100 TB the scan count IS the cost of a monitoring sweep — the
    // r14 fusion's contract: the sliced scorer reads the fact once for
    // both slices...
    val li = Tables.lineitem(spark, dir)
    val cut = col("l_shipdate") < lit("1996-01-01").cast("date")
    val scorer = graft.operators.FeatureQuality.importanceScoresSliced(
      li, cut, Seq("l_discount", "l_tax"), "l_quantity")
      .queryExecution.executedPlan.toString
    val scans = "lineitem\\.parquet".r.findAllIn(scorer).length
    assert(scans == 1, s"$scans lineitem scans in the scorer (want 1):\n$scorer")
    // ...and q270 checkpoints the 4-row score table, so the stability
    // tail (which references its input twice: stats aggregate +
    // spearman pass) re-reads NO fact data at all
    val tail = SparkEntry.queries("q270_importance_stability")(spark, dir)
      .queryExecution.executedPlan.toString
    val tailScans = "lineitem\\.parquet".r.findAllIn(tail).length
    assert(tailScans == 0, s"$tailScans lineitem scans in the tail (want 0):\n$tail")
  }

  // ---- the ETL's one product-key exchange

  /** (action name, executed plan) of every query `body` runs, eager
    * checkpoints included. */
  private def plansRun(body: => Unit): Seq[(String, SparkPlan)] = {
    val plans = ArrayBuffer.empty[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += funcName -> qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      GraftSqlBridge.statusJobs(spark) // drains the listener bus
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  /** The shuffle exchanges an executed plan ran, through its adaptive
    * wrapper and query stages; a reused exchange is not counted again. */
  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec => shuffles(q.plan)
    case x: ShuffleExchangeExec => x +: x.children.flatMap(shuffles)
    case other => other.children.flatMap(shuffles)
  }

  /** Shuffles run to build and collect `build()`'s frame; its
    * checkpoints are released after. */
  private def shufflesToCollect(build: () => DataFrame): Int = {
    var out: DataFrame = null
    val ran = plansRun { out = build(); out.collect() }
    GraftSqlBridge.unpersistCheckpoints(out)
    ran.map { case (_, p) => shuffles(p).size }.sum
  }

  test("feature store: dedup, weekly grain and series windows ride ONE l_partkey exchange") {
    val plan = Jobs.featureStore(spark, dir).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toList
    assert(exchanges.size == 1, s"${exchanges.size} exchanges:\n$plan")
    assert(exchanges.head.matches("Exchange hashpartitioning\\(l_partkey#\\d+L?, \\d+\\)"),
      plan)
  }

  /** Every node of an executed plan, through its adaptive wrapper and
    * query stages. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case q: QueryStageExec => nodesOf(q.plan)
    case other => other +: other.children.flatMap(nodesOf)
  }

  test("champion: the whole member pass rides the ETL's one l_partkey exchange") {
    val keys = Seq("l_partkey", "l_suppkey")
    val etlPlan = Jobs.etl(spark, dir)
    etlPlan.collect()
    val etlJoins = nodesOf(etlPlan.queryExecution.executedPlan)
      .collect { case j: BaseJoinExec => j.nodeName }
    var fc: DataFrame = null
    val ran = plansRun {
      fc = Champion.championForecast(Jobs.etl(spark, dir), keys,
        Seq(col("week_start")), "qty_sum", h = 5, m = 13)
      fc.collect()
    }
    assert(!ran.exists(_._1 == "localCheckpoint"), ran.map(_._1))
    val plan = fc.queryExecution.executedPlan
    val xs = shuffles(plan)
    assert(xs.size == 1, s"${xs.size} exchanges:\n$plan")
    assert(xs.head.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "l_partkey"
      case _ => false
    }, plan)
    val nodes = nodesOf(plan)
    assert(!nodes.exists(_.isInstanceOf[UnionExec]), plan)
    assert(!nodes.exists(_.isInstanceOf[RDDScanExec]), plan)
    // the ETL's broadcast of `part` is the only join
    assert(nodes.collect { case j: BaseJoinExec => j.nodeName } == etlJoins, plan)
  }

  test("championBacktest and diagnosticsRun: the ETL exchange adds no shuffle") {
    // both re-key the weekly grain by supplier, so the l_partkey exchange
    // cannot carry their windows; it replaces the dedup and weekly
    // exchanges, one shuffle fewer than the 18 and 12 of the two-exchange
    // ETL. The backtest's champion family is one series pass with one
    // exchange on the supplier key: 13 shuffles, 16 with a member chain
    // each
    val backtest = shufflesToCollect(() => Jobs.championBacktest(spark, dir, h = 3))
    assert(backtest <= 13, s"championBacktest ran $backtest shuffles")
    val diagnostics = shufflesToCollect(() => Jobs.diagnosticsRun(spark, dir))
    assert(diagnostics <= 11, s"diagnosticsRun ran $diagnostics shuffles")
  }
}
