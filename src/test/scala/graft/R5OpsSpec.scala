package graft

import org.apache.spark.sql.functions._
import graft.operators.{BloomPrune, Layout, Scd}
import graft.text.NgramLm

/** Round-5 batch-1 operators: bloom-pruned joins, z-order layout,
  * bigram-LM scoring, SCD2 intervals. */
class R5OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---------------- BloomPrune ----------------

  test("bloom semiJoin equals exact semi-join; bloom prunes scan-side") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val keys = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 400000)
    val got = BloomPrune.semiJoin(li, keys, "l_orderkey", "o_orderkey")
    val want = li.join(keys.select("o_orderkey").distinct(),
      li("l_orderkey") === col("o_orderkey"), "left_semi")
    assert(got.count() == want.count())
    assert(got.select("l_orderkey").except(want.select("l_orderkey")).isEmpty)
    // the bloom predicate really prunes: strictly fewer rows pass the
    // prefilter than exist, and no member is lost (zero false negatives)
    val bloom = BloomPrune.buildBloom(keys, col("o_orderkey"))
    val pre = li.filter(BloomPrune.mightContain(bloom, col("l_orderkey")))
    assert(pre.count() < li.count())
    assert(want.except(pre).isEmpty)
  }

  test("bloom antiJoin equals exact anti-join; empty keys pass everything") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val keys = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 400000)
    val got = BloomPrune.antiJoin(li, keys, "l_orderkey", "o_orderkey")
    val want = li.join(keys.select("o_orderkey").distinct(),
      li("l_orderkey") === col("o_orderkey"), "left_anti")
    assert(got.count() == want.count())
    assert(got.select("l_orderkey").distinct()
      .except(want.select("l_orderkey").distinct()).isEmpty)

    val none = keys.filter(lit(false))
    assert(BloomPrune.antiJoin(li, none, "l_orderkey", "o_orderkey").count() == li.count())
    assert(BloomPrune.semiJoin(li, none, "l_orderkey", "o_orderkey").count() == 0)
  }

  // ---------------- Layout / z-order ----------------

  test("zValue interleaves bits round-robin (known values)") {
    // a=0b0011=3, b=0b0101=5 with 4 bits: z bits (a3 b3 a2 b2 a1 b1 a0 b0)
    // = 0 0 0 1 1 0 1 1 = 0x1B = 27
    val df = Seq((3L, 5L)).toDF("a", "b")
    val z = df.select(Layout.zValue(Seq(col("a"), col("b")), 4).as("z"))
      .as[Long].head()
    assert(z == 27L)
    // single column degenerates to identity (mod 2^bits)
    val one = Seq(Tuple1(300L)).toDF("a")
      .select(Layout.zValue(Seq(col("a")), 8).as("z")).as[Long].head()
    assert(one == 300L % 256L)
  }

  test("zValue locality: close points share high bits; layout range-partitions") {
    // neighbors in both dims ⇒ z distance small; far in one dim ⇒ large
    val df = Seq((10L, 10L), (11L, 11L), (10L, 200L)).toDF("a", "b")
    val zs = df.select(Layout.zValue(Seq(col("a"), col("b")), 8).as("z"))
      .as[Long].collect()
    assert(math.abs(zs(0) - zs(1)) < math.abs(zs(0) - zs(2)))

    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val out = Layout.zorderLayout(li, Seq("l_partkey", "l_suppkey"), 8, 4)
    assert(out.count() == li.count()) // layout is a permutation
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning")
      || plan.toLowerCase.contains("range"), s"no range partition in:\n$plan")
  }

  // ---------------- NgramLm ----------------

  test("bigram LM: hand-computed add-k probabilities on a toy corpus") {
    // corpus: "a b" (doc 1), "a b a c" (doc 2) — V=3, c(a)=3,c(b)=2,c(c)=1
    // bigrams: (a,b)×2, (b,a)×1, (a,c)×1
    val docs = Seq((1L, "a b"), (2L, "a b a c")).toDF("doc_id", "text")
    val out = NgramLm.score(docs, "doc_id", "text", k = 0.5)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "avg_logprob").as[(Long, Long, Double)].collect()
    def lp(c12: Long, c1: Long): Double = {
      val raw = math.log((c12 + 0.5) / (c1 + 0.5 * 3))
      math.round(raw * 1e6) / 1e6
    }
    def r4(x: Double): Double = math.round(x * 1e4) / 1e4
    val pAB = lp(2, 3); val pBA = lp(1, 2); val pAC = lp(1, 3)
    assert(out(0) == ((1L, 1L, r4(pAB))))
    assert(out(1)._2 == 3L)
    assert(math.abs(out(1)._3 - r4((pAB + pBA + pAC) / 3)) < 1e-9)
  }

  test("Kneser-Ney: hand-computed interpolated probabilities") {
    // corpus: "a b", "a b", "a c" — bigram types (a,b) cnt 2, (a,c)
    // cnt 1; c(a·)=3, N1+(a,·)=2; N1+(·,b)=N1+(·,c)=1; T=2.
    // P(b|a) = (2−.75)/3 + .75·2/3·(1/2) = 2/3; P(c|a) = 1/12 + 1/4
    // = 1/3 — and the two sum to exactly 1 (the KN mass identity).
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = NgramLm.scoreKneserNey(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "kn_avg_logprob")
      .as[(Long, Long, Double)].collect()
    def microLn(p: Double): Double = math.round(math.log(p) * 1e6) / 1e6
    def r4(x: Double): Double = math.round(x * 1e4) / 1e4
    assert(out(0) == ((1L, 1L, r4(microLn(2.0 / 3)))))
    assert(out(1)._3 == out(0)._3)
    assert(out(2) == ((3L, 1L, r4(microLn(1.0 / 3)))))
  }

  test("Kneser-Ney: bursty token beats raw frequency on continuation diversity") {
    // "of the" repeats constantly (one context); "report" appears in
    // many distinct contexts. KN's continuation probability favors the
    // diverse completer over the bursty one when both follow a novel
    // lambda-weighted context — here we just pin the model tables'
    // effect: P_cont(the) uses N1+(·,the), NOT its raw count, so a doc
    // of rare-but-diverse transitions outscores one repeating the
    // single burst pair seen in fewer contexts than its count implies.
    val burst = (0 until 20).map(i => (i.toLong, "of the of the of the"))
    val diverse = Seq((100L, "annual report quarterly report final report"),
      (101L, "annual report quarterly report"))
    val docs = (burst ++ diverse).toDF("doc_id", "text")
    val scored = NgramLm.scoreKneserNey(docs, "doc_id", "text").cache()
    try {
      // every row scores (the training-corpus closure: no null/missing)
      assert(scored.count() == 22)
      assert(scored.filter(col("kn_avg_logprob").isNull).count() == 0)
      // perplexity is the exp(−mean) transform, consistent per row
      val r0 = scored.filter(col("doc_id") === 100L).collect().head
      val lpv = r0.getAs[Double]("kn_avg_logprob")
      assert(math.abs(r0.getAs[Double]("kn_perplexity") -
        math.round(math.exp(-lpv) * 1e4) / 1e4) < 1e-9)
    } finally scored.unpersist()
  }

  test("bigram LM: scrambled word order scores below typical transitions") {
    // 50 docs share one dominant transition pattern; one doc uses the
    // SAME vocabulary in reversed order — rare transitions, low score.
    // (Uses common tokens on purpose: with add-k smoothing, what marks
    // gibberish is improbable transitions, not unseen words.)
    val normal = (0 until 50).map(i =>
      (i.toLong, "alpha beta gamma delta alpha beta gamma delta"))
    val scrambled = Seq((999L, "delta gamma beta alpha delta gamma beta alpha"))
    val docs = (normal ++ scrambled).toDF("doc_id", "text")
    val scored = NgramLm.score(docs, "doc_id", "text")
    val gib = scored.filter(col("doc_id") === 999L)
      .select("avg_logprob").as[Double].head()
    val typ = scored.filter(col("doc_id") === 0L)
      .select("avg_logprob").as[Double].head()
    assert(gib < typ - 1.0, s"scrambled $gib should score well below typical $typ")
  }

  test("bigram LM: avg_logprob is exact under order-hostile partitioning") {
    // One long doc with many distinct bigrams (log-probs of varying
    // magnitude) — the micro-long sum must make the per-doc mean
    // identical no matter how rows are partitioned or ordered.
    val words = (0 until 400).map(i => s"w${i % 37}").mkString(" ")
    val docs = (0L until 20L).map(i => (i, words + s" tail$i")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      NgramLm.score(df, "doc_id", "text")
        .orderBy("doc_id")
        .select("doc_id", "avg_logprob").as[(Long, Double)].collect().toSeq
    val a = run(docs.repartition(1))
    val b = run(docs.repartition(13, col("text")))
    val c = run(docs.orderBy(col("doc_id").desc).repartition(7))
    assert(a == b, "1-partition vs 13-partition results differ")
    assert(a == c, "reordered input changed the scores")
  }

  // ---------------- Scd ----------------

  test("scd2: runs collapse, intervals chain, current flag set") {
    val rows = Seq(
      // user 1: A A B A  → runs A[1,2] B[3] A[4]
      (1L, 1L, "A"), (1L, 2L, "A"), (1L, 3L, "B"), (1L, 4L, "A"),
      // user 2: single run
      (2L, 1L, "X"), (2L, 2L, "X"))
      .map { case (u, t, a) => (u, java.sql.Timestamp.valueOf(f"2024-01-0$t%d 00:00:00"), t, a) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Scd.scd2(rows, Seq("user_id"), Seq(col("ts"), col("event_id")), Seq("event_type"))
      .orderBy("user_id", "version")
      .select("user_id", "event_type", "version", "is_current")
      .as[(Long, String, Long, Boolean)].collect()
    assert(out.toSeq == Seq(
      (1L, "A", 1L, false), (1L, "B", 2L, false), (1L, "A", 3L, true),
      (2L, "X", 1L, true)))

    // intervals chain with no gaps/overlaps: to(i) == from(i+1)
    val iv = Scd.scd2(rows, Seq("user_id"), Seq(col("ts"), col("event_id")), Seq("event_type"))
      .filter(col("user_id") === 1L).orderBy("version")
      .select(col("valid_from").cast("long"), col("valid_to").cast("long"))
      .as[(Long, Option[Long])].collect()
    iv.sliding(2).foreach {
      case Array((_, Some(to)), (from2, _)) => assert(to == from2)
      case _ =>
    }
    assert(iv.last._2.isEmpty)
  }

  test("scd2: a null first attribute still opens run 1, and a null tiebreaker splits no run") {
    val rows = Seq(
      // user 1: null null A → runs null[1,2] A[3]
      (1L, 1L, Some(1L), None), (1L, 2L, Some(2L), None), (1L, 3L, Some(3L), Some("A")),
      // user 2: A A A with a null event_id in the middle → one run
      (2L, 1L, Some(4L), Some("A")), (2L, 2L, None, Some("A")), (2L, 3L, Some(6L), Some("A")))
      .map { case (u, t, id, a) =>
        (u, java.sql.Timestamp.valueOf(f"2024-01-0$t%d 00:00:00"), id, a) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Scd.scd2(rows, Seq("user_id"), Seq(col("ts"), col("event_id")), Seq("event_type"))
      .orderBy("user_id", "version")
      .select("user_id", "event_type", "n_obs", "version", "is_current")
      .as[(Long, Option[String], Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, None, 2L, 1L, false), (1L, Some("A"), 1L, 2L, true),
      (2L, Some("A"), 3L, 1L, true)), out.toString)
  }
}
