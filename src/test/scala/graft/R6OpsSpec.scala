package graft

import org.apache.spark.sql.functions._

/** Round-6 operators: int8 embedding quantization and k-core peeling. */
class R6OpsSpec extends SparkSpec {
  import spark.implicits._

  test("int8 quantization: codes in [-127,127], max element hits ±127, bounded round-trip error") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(10.0f, 2.0f, -3.0f, 4.0f))).toDF("vec_id", "embedding")
    val q = graft.sim.Quantize.int8(df).cache()
    try {
      val rows = q.select("vec_id", "dim", "q", "scale")
        .as[(Long, Long, Int, Double)].collect()
      assert(rows.length == 8)
      assert(rows.forall { case (_, _, c, _) => c >= -127 && c <= 127 })
      // the max-abs element of each vector maps to ±127
      assert(rows.find(r => r._1 == 1L && r._2 == 1L).get._3 == -127)
      assert(rows.find(r => r._1 == 2L && r._2 == 0L).get._3 == 127)
      // dequantization error ≤ scale/2 per element
      val orig = Map((1L, 0L) -> 0.5, (1L, 1L) -> -1.0, (1L, 2L) -> 0.25, (1L, 3L) -> 0.0,
        (2L, 0L) -> 10.0, (2L, 1L) -> 2.0, (2L, 2L) -> -3.0, (2L, 3L) -> 4.0)
      rows.foreach { case (id, dim, c, s) =>
        assert(math.abs(c * s - orig((id, dim))) <= s / 2 + 1e-4,
          s"vec $id dim $dim: ${c * s} vs ${orig((id, dim))}")
      }
    } finally q.unpersist()
  }

  test("int8 quantization: zero vector gives all-zero codes and scale 0") {
    val df = Seq((1L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val rows = graft.sim.Quantize.int8(df)
      .select("q", "scale").as[(Int, Double)].collect()
    assert(rows.forall { case (c, s) => c == 0 && s == 0.0 })
  }

  test("k-core: a 4-clique survives k=3 peeling, pendant path does not") {
    // 4-clique {1,2,3,4} plus path 4-5-6 hanging off it
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("u", "v")
    val core = graft.graph.KCore.kCore(edges, "u", "v", k = 3, iters = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(core == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), core.toString)
  }

  test("k-core: k=1 keeps every non-isolated node with its full degree") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val core = graft.graph.KCore.kCore(edges, "u", "v", k = 1, iters = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(core == Seq((1L, 1L), (2L, 2L), (3L, 1L)), core.toString)
  }

  test("personalized PageRank concentrates mass near the seed set") {
    // path graph 1-2-3-4-5-6 (symmetrized); seed = node 1 only
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = graft.graph.PageRankOp.personalizedPageRank(edges, "src", "dst",
      seedPred = col("node") === 1L, iters = 5)
      .select("node", "rank_i").as[(Long, Long)].collect().toMap
    // rank decays with distance from the seed; the far end gets the least
    assert(ranks(1L) > ranks(3L), ranks.toString)
    assert(ranks(2L) > ranks(4L), ranks.toString)
    assert(ranks(6L) < ranks(2L), ranks.toString)
    // only the seed receives teleport mass: global sum stays below scale
    assert(ranks.values.sum <= 1000000000L, ranks.values.sum.toString)
  }

  test("robustMean: trimmed drops the outlier, winsorized clamps it") {
    // 10 ones and one huge outlier: plain mean 10, trimmed mean 1,
    // winsorized mean pulls the outlier down to the band edge (1)
    val df = (Seq.fill(10)(1.0) :+ 100.0).zipWithIndex
      .map { case (v, i) => ("k", i, v) }.toDF("k", "i", "v")
    val row = graft.operators.AggFeatures.robustMean(df, Seq(col("k")), col("v"),
      lo = 0.0, hi = 0.9).head()
    assert(row.getAs[Long]("n_rows") == 11L)
    assert(row.getAs[Double]("trimmed_mean") == 1.0)
    assert(row.getAs[Double]("winsorized_mean") == 1.0) // outlier clamped to 1
    val plain = df.agg(avg(col("v"))).head().getDouble(0)
    assert(plain > 9.0) // vs the plain mean the outlier dominates
  }

  test("SCD2 compressHistory collapses runs into half-open validity ranges") {
    val snap = Seq(
      ("a", 1, "x"), ("a", 2, "x"), ("a", 3, "y"), ("a", 4, "y"), ("a", 5, "x"),
      ("b", 1, "z"))
      .toDF("k", "t", "v")
    val out = graft.operators.Scd.scd2(snap, Seq("k"), Seq(col("t")), Seq("v"))
      .orderBy("k", "valid_from")
      .select("k", "v", "valid_from", "valid_to", "n_obs")
      .as[(String, String, Int, Option[Int], Long)].collect().toSeq
    assert(out == Seq(
      ("a", "x", 1, Some(3), 2L),
      ("a", "y", 3, Some(5), 2L),
      ("a", "x", 5, None, 1L), // value returning re-opens a NEW range
      ("b", "z", 1, None, 1L)), out.toString)
  }

  test("SCD2 compressHistory treats null attribute values as a distinct state") {
    val snap = Seq(("a", 1, Some("x")), ("a", 2, None), ("a", 3, None), ("a", 4, Some("x")))
      .toDF("k", "t", "v")
    val out = graft.operators.Scd.scd2(snap, Seq("k"), Seq(col("t")), Seq("v"))
      .orderBy("valid_from").select("valid_from", "n_obs")
      .as[(Int, Long)].collect().toSeq
    assert(out == Seq((1, 1L), (2, 2L), (4, 1L)), out.toString) // null run is ONE range
  }

  test("covariance matrix matches the closed form on a tiny frame") {
    // vectors (1,2), (3,6), (5,10): x2 = 2·x1 exactly
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 6.0f)), (3L, Array(5.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val cells = graft.sim.Pca.covarianceMatrix(df)
      .orderBy("i", "j").select("i", "j", "cov").as[(Long, Long, Double)].collect().toSeq
    // var(x1)=4, cov(x1,x2)=8, var(x2)=16
    assert(cells == Seq((0L, 0L, 4.0), (0L, 1L, 8.0), (1L, 1L, 16.0)), cells.toString)
  }

  test("PCA recovers a planted 1-D signal direction and its variance share") {
    // x = t·(3,4)/5 + tiny noise in 2-D: first axis ≈ (0.6, 0.8)
    val rows = (0 until 200).map { i =>
      val t = (i % 21 - 10).toDouble // deterministic spread, mean 0
      val eps = ((i * 37) % 7 - 3) * 0.001
      (i.toLong, Array((0.6 * t + eps).toFloat, (0.8 * t - eps).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val axes = graft.sim.Pca.principalAxes(df, dim = 2, k = 2)
    val (ev1, a1) = axes.head
    assert(math.abs(math.abs(a1(0)) - 0.6) < 0.01 &&
      math.abs(math.abs(a1(1)) - 0.8) < 0.01, a1.toSeq.toString)
    assert(ev1 / (axes.map(_._1).sum) > 0.999, s"top axis carries the variance: $axes")
    // projection adds pc columns; pc_1 spread tracks t's spread
    val proj = graft.sim.Pca.project(df, dim = 2, k = 1)
    assert(proj.columns.contains("pc_1"))
    val std = proj.agg(stddev(col("pc_1"))).as[Double].head()
    assert(std > 5.0 && std < 7.0, s"pc_1 std $std") // t std ≈ 6.06
  }
}
