package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-visible 10× scale probe (r17 verdict ask #6): the sf0.1
  * bench suite sits on the scheduling floor (the 8-core total beats the
  * 32-core total), so its 32-vs-8 scaling block cannot detect a serial
  * or superlinear operator — the 10× stress sweep is the instrument
  * that can, and this entry point puts it behind the same driver
  * contract as `graft.Bench`:
  *
  *  - data directory from `$SPARK_GRAFT_SF_DIR` (default
  *    /root/testdata/sf0.1), core count from `$SPARK_GRAFT_CPUS`
  *    (master `local[$SPARK_GRAFT_CPUS]`);
  *  - synthesizes a key-shifted 10× copy of the fact tables (ten
  *    disjoint key ranges — entity/series counts scale 10× with
  *    unchanged per-entity depth, the shape a real 10× volume has;
  *    document text salted per copy so dedup stages see no artificial
  *    exact duplicates; dim tables unscaled), times the most expensive
  *    headline rows plus the Bench spine at BOTH scales through the
  *    noop sink, warm best-of-2;
  *  - prints ONE JSON line: `value` = total wall seconds at 10×,
  *    `queries` = per-query 10× seconds, `ratios` = per-query
  *    wall ratios (10× time / 1× time; ≤ ~10 ⇒ at worst linear in
  *    rows), plus the 10× spine rows/s.
  *
  * Everything is computed from the parquet inputs within the run —
  * the synthesized 10× directory is rebuilt from `$SPARK_GRAFT_SF_DIR`
  * every invocation and carries no precomputed results.
  *
  * Usage: `runMain graft.ScaleProbe10x [workDir] [query...]` — extra
  * registered-query names after `workDir` join the probed rows.
  */
object ScaleProbe10x {

  private val headline = Seq(
    "q110_feature_store", "q283_als_portable", "q288_quality_classifier",
    "q138_curate", "q318_theil_sen", "q21_cooccurrence",
    "q285_kmv_distinct", "q272_validation", "q312_boilerplate", "q147_bpe",
    "q262_quantile_reg", "q130_quality_filter", "q302_cm_frequency",
    "q64_ngram_jaccard", "q346_price_anomaly", "q350_successive_halving")
  private val spine = Seq("q22_weekly_aggregate", "q40_rolling_stats", "q37_scorecard")

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val work = if (args.length > 0) args(0) else "target/scaleprobe10x_driver"
    val extra = args.drop(1).toSeq
    val unknown = extra.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown registered queries: ${unknown.mkString(", ")}")
    val probes = headline ++ extra
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- synthesize the 10× directory from the driver-given SF ----
    def tenWay(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until 10).map { k =>
        shifts.foldLeft(df) { case (d, (c, unit)) =>
          d.withColumn(c, col(c) + lit(k * unit)) }
      }.reduce(_ unionByName _)
    spark.sparkContext.setJobDescription("scale10x: synthesize")
    tenWay(spark.read.parquet(s"$src/lineitem.parquet"),
      Map("l_orderkey" -> 1000000000L, "l_partkey" -> 10000000L,
        "l_suppkey" -> 1000000L))
      .write.mode("overwrite").parquet(s"$work/lineitem.parquet")
    tenWay(spark.read.parquet(s"$src/orders.parquet"),
      Map("o_orderkey" -> 1000000000L, "o_custkey" -> 10000000L))
      .write.mode("overwrite").parquet(s"$work/orders.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until 10).map { k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k * 100000000L))
        .withColumn("text", concat(col("text"), lit(s" c$k")))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "events", "embeddings"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$work/$t.parquet")

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // codegen/JIT warmup at the smallest SF so both timed scales are warm
    (probes ++ spine).foreach { q =>
      try run(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    def time(q: String, dir: String): Double = {
      spark.sparkContext.setJobDescription(s"scale10x: $q @ $dir")
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        run(SparkEntry.queries(q)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }

    val rows1 = spark.read.parquet(s"$src/lineitem.parquet").count()
    val rows10 = spark.read.parquet(s"$work/lineitem.parquet").count()
    val results = probes.filter(SparkEntry.queries.contains).map { q =>
      val a = time(q, src); val b = time(q, work)
      System.err.println(f"[scale10x] $q%-28s 1x=$a%7.2f s  10x=$b%7.2f s  ratio=${b / a}%5.2f")
      (q, a, b)
    }
    def spineSec(dir: String): Double = {
      spark.sparkContext.setJobDescription(s"scale10x: spine @ $dir")
      val t0 = System.nanoTime()
      spine.foreach(q => run(SparkEntry.queries(q)(spark, dir)))
      (System.nanoTime() - t0) / 1e9
    }
    val sA = spineSec(src); val sB = spineSec(work)

    // compact one-line JSON, keys truncated to qNNN so the line fits the
    // driver's 2000-byte stdout tail window (the Bench convention)
    def qk(n: String) = n.takeWhile(_ != '_')
    val total10 = results.map(_._3).sum + sB
    val qs = (results.map { case (q, _, b) => "\"" + qk(q).drop(1) + f"\":$b%.2f" } :+
      f""""spine":$sB%.2f""").mkString("{", ",", "}")
    val ratios = (results.map { case (q, a, b) => "\"" + qk(q).drop(1) + f"\":${b / a}%.2f" } :+
      f""""spine":${sB / sA}%.2f""").mkString("{", ",", "}")
    println(f"""{"metric":"scale10x_total","value":$total10%.3f,"unit":"sec","queries":$qs,"ratios":$ratios,"sf":"$src","fact_rows_1x":$rows1,"fact_rows_10x":$rows10,"spine_rows_per_sec_10x":${rows10 / sB}%.0f}""")
    spark.stop()
  }
}
