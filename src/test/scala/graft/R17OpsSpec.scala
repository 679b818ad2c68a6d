package graft

import org.apache.spark.sql.functions._

import graft.operators.{AggFeatures, Assoc}
import graft.metrics.Conformal
import graft.model.Recommend

/** Round-17 unit coverage: the r16 ADVICE regression cases (friedman
  * duplicated-treatment gate, conformal NULL-coverage sentinel, ALS
  * factor clamp under degenerate solves). */
class R17OpsSpec extends SparkSpec {
  import spark.implicits._

  test("friedman drops blocks with a duplicated treatment masking a missing one") {
    // block b3 has 3 rows but treatments {t1,t1,t2} — the old
    // row-count-only gate admitted it (skewing R_j); the
    // distinct-treatment gate must drop it, leaving the textbook
    // chi2 = 4 from blocks b1/b2 alone
    val cells = Seq(
      ("g", "b1", "t1", 1.0), ("g", "b1", "t2", 2.0), ("g", "b1", "t3", 3.0),
      ("g", "b2", "t1", 10.0), ("g", "b2", "t2", 20.0), ("g", "b2", "t3", 30.0),
      ("g", "b3", "t1", 5.0), ("g", "b3", "t1", 6.0), ("g", "b3", "t2", 7.0))
      .toDF("g", "b", "t", "v")
    val r = Assoc.friedman(cells, Seq("g"), col("b"), col("t"), col("v"))
      .collect()(0)
    assert(r.getAs[Long]("n_blocks") == 2L)
    assert(r.getAs[Double]("friedman_chi2") == 4.0)
  }

  test("splitConformal reports NULL coverage (not 0.0) for groups with no test rows") {
    // group "a" has calib + test rows; group "b" is calib-only —
    // its coverage must be NULL with n_test = 0, distinguishable from
    // a genuine 0% empirical coverage
    val rows = Seq(
      ("a", 10.0, 9.0, true), ("a", 10.0, 11.0, true), ("a", 10.0, 8.0, true),
      ("a", 10.0, 10.5, false), ("a", 10.0, 30.0, false),
      ("b", 5.0, 4.0, true), ("b", 5.0, 6.0, true))
      .toDF("g", "y", "pred", "calib")
    val r = Conformal.splitConformal(rows, Seq("g"), col("y"), col("pred"),
      col("calib"), alpha = 0.1)
    val byG = r.collect().map(x => x.getAs[String]("g") -> x).toMap
    assert(byG("b").getAs[Long]("n_test") == 0L)
    assert(byG("b").isNullAt(byG("b").fieldIndex("coverage")))
    assert(byG("a").getAs[Long]("n_test") == 2L)
    assert(!byG("a").isNullAt(byG("a").fieldIndex("coverage")))
  }

  test("cvScoreboard: champion is never worse than any member; NULL/zero-denominator hygiene") {
    // configs a (perfect), b (off by 1), c (off by 10); fold 2 has an
    // all-zero |y| for config c (dropped fold) and a NULL pred row for
    // config b (dropped row)
    val scored = Seq(
      ("a", 1, 10.0, Some(10.0)), ("a", 1, 20.0, Some(20.0)),
      ("a", 2, 30.0, Some(30.0)),
      ("b", 1, 10.0, Some(11.0)), ("b", 1, 20.0, Some(21.0)),
      ("b", 2, 30.0, Some(31.0)), ("b", 2, 40.0, None),
      ("c", 1, 10.0, Some(20.0)), ("c", 2, 0.0, Some(10.0)))
      .toDF("config", "fold", "y", "pred")
    val board = graft.cv.Tuning.cvScoreboard(scored, col("config"),
      col("fold"), col("y"), col("pred")).collect()
    val byCfg = board.map(r => r.getAs[String]("config") -> r).toMap
    // champion = argmin cv_wmape, and rank order matches wmape order
    val champ = board.filter(_.getAs[Long]("is_champion") == 1L)
    assert(champ.length == 1 && champ(0).getAs[String]("config") == "a")
    val wmapeOf = board.map(r =>
      r.getAs[String]("config") -> r.getAs[Double]("cv_wmape")).toMap
    assert(board.forall(r => wmapeOf(champ(0).getAs[String]("config")) <=
      r.getAs[Double]("cv_wmape")), "champion must never be worse than a member")
    assert(byCfg("a").getAs[Double]("cv_wmape") == 0.0)
    // b: fold1 wmape = 2/30 -> 0.0667, fold2 (NULL row dropped) = 1/30
    // -> 0.0333; mean = 0.05
    assert(byCfg("b").getAs[Long]("n_folds") == 2L)
    assert(byCfg("b").getAs[Double]("cv_wmape") == 0.05)
    // c: fold2 has sum|y| = 0 -> fold dropped; only fold1 (10/10 = 1.0)
    assert(byCfg("c").getAs[Long]("n_folds") == 1L)
    assert(byCfg("c").getAs[Double]("cv_wmape") == 1.0)
  }

  test("A29 auto-gate: thin baskets go exact, a whale basket flips to FP-Growth; parity at the boundary") {
    // thin corpus: 40 baskets x 3 items -> p99 = 3, max = 3 -> exact
    val thin = (0 until 40).flatMap(b => Seq((b.toLong, "x"), (b.toLong, "y"),
      (b.toLong, "z" + (b % 5)))).toDF("basket", "item")
    assert(AggFeatures.coOccurrencePath(thin, Seq("basket"), "item") == "exact")
    // one whale basket past fatMax flips the gate even though p99 stays thin
    val whale = thin.union((0 until 1100).map(i => (999L, s"w$i")).toDF("basket", "item"))
    assert(AggFeatures.coOccurrencePath(whale, Seq("basket"), "item") == "fpgrowth")
    // parity AT the gate boundary: a fat corpus (p99 > 64) must produce
    // the identical pair/lift table on both paths. Baskets are fat but
    // mostly DISJOINT (66 basket-unique items + 4 shared) — overlapping
    // fat baskets would make FP-Growth's frequent-itemset lattice
    // combinatorial, which is a property of the TEST corpus, not the
    // operator (real corpora at this density go through minSupport)
    val fat = (0 until 8).flatMap(b =>
      (0 until 66).map(i => (b.toLong, s"u$b:$i")) ++
        (0 until 4).map(i => (b.toLong, s"s$i"))).toDF("basket", "item")
    assert(AggFeatures.coOccurrencePath(fat, Seq("basket"), "item") == "fpgrowth")
    val exact = AggFeatures.coOccurrence(fat, Seq("basket"), "item", 3)
      .select("item_a", "item_b", "pair_count", "n_a", "n_b")
    val (path, auto0) = AggFeatures.coOccurrenceAutoWithPath(fat, Seq("basket"), "item", 3)
    val auto = auto0.select("item_a", "item_b", "pair_count", "n_a", "n_b")
    assert(path == "fpgrowth")
    assert(auto.except(exact).isEmpty && exact.except(auto).isEmpty,
      "exact and FP-Growth paths must agree at the boundary")
  }

  test("planted hot key triggers the AQE skew-join split (skew=true in the executed plan)") {
    // the salted/AQE skew story pinned as a plan assertion, not prose:
    // a 200k-row hot key against a uniform dim, AQE skew thresholds
    // lowered so the planted skew is past them, broadcast disabled so
    // the join is a shuffle join AQE can split
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption.filter(_ != null)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val fact = spark.range(0, 250000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 100)
          .as("k"), col("id").as("v"))
      val dim = spark.range(0, 100).select(col("id").as("k"), (col("id") * 7).as("w"))
      // a GLOBAL aggregate after the join, not groupBy(k): AQE skips the
      // skew split when a downstream operator requires the join key's
      // hash partitioning (splitting would break the distribution)
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(col("w") + col("v")).as("sw"))
      // collect() drives THIS QueryExecution (a write would clone it),
      // so the AdaptiveSparkPlan below is the finalized one
      assert(joined.collect().length == 1)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the hot-key join skew=true; plan:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("saltedJoin spreads a hot key across salt buckets and keeps equi-join semantics") {
    import spark.implicits._
    val probe = (0 until 5000).map(i => (if (i % 10 == 0) 1L else (i % 50).toLong, i.toLong))
      .toDF("pk", "pv")
    val build = (0 until 50).map(i => (i.toLong, s"d$i")).toDF("bk", "bw")
    val salted = graft.etl.Skew.saltedJoin(probe, build, "pk", "bk",
      saltBuckets = 8, probeSaltSource = Seq(col("pv")))
    val plain = probe.join(build, col("pk") === col("bk"))
    assert(salted.count() == plain.count())
    // the salt column participates in the join (visible in the plan)
    assert(salted.queryExecution.analyzed.toString.contains("__salt"))
  }

  test("mipsTopK is row-for-row the all-pairs cross scoring tail (exact pruning)") {
    // adversarial corners: equal norms (no pruning possible), exact
    // score ties resolved by id, negative components, tiny k vs n
    val rng = new scala.util.Random(11)
    val users = (0 until 200).map(u => (u.toLong,
      math.round((rng.nextDouble() * 4 - 2) * 1e4) / 1e4,
      math.round((rng.nextDouble() * 4 - 2) * 1e4) / 1e4))
      .toDF("u", "f1", "f2")
    val items = ((0 until 300).map(i => (i.toLong,
      math.round((rng.nextDouble() * 4 - 2) * 1e4) / 1e4,
      math.round((rng.nextDouble() * 4 - 2) * 1e4) / 1e4)) ++
      // equal-norm, equal-score tie block: items 1000-1004 all (1.0, 0)
      (0 until 5).map(i => (1000L + i, 1.0, 0.0)))
      .toDF("i", "f1", "f2")
    val mips = graft.model.Recommend.mipsTopK(users, items, 5, "user", "item")
    val cross = RecommendReference.crossScoreTopK(users, items, 5, "user", "item")
    assert(mips.count() == cross.count())
    assert(mips.except(cross).isEmpty && cross.except(mips).isEmpty,
      "MIPS pruning must not change a single row vs the exhaustive cross form")
  }

  test("alsPortable clamps factors under degenerate/huge-rating solves") {
    // a near-singular 2x2 system with a gigantic rating: unclamped,
    // the solve inflates f into the next half-step's long sums (the
    // r16 ADVICE overflow scenario); the +-9 clamp bounds every factor,
    // so every score is bounded by 2*81 and stays finite
    val ratings = Seq(
      (1L, 1L, 1.0e9), (1L, 2L, 1.0e9), (2L, 1L, 3.0), (2L, 2L, 1.0))
      .toDF("user", "item", "cnt")
    val out = Recommend.alsPortable(ratings, "user", "item", "cnt",
      iters = 2, lambda = 0.1, k = 5)
    val scores = out.select(col("score")).collect().map(_.getDouble(0))
    assert(scores.nonEmpty)
    assert(scores.forall(s => !s.isNaN && !s.isInfinite && math.abs(s) <= 162.0001))
  }
}
