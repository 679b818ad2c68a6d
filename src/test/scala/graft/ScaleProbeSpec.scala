package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ScaleProbeSpec extends SparkSpec {
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private val n = 3
  private lazy val work = {
    val w = java.nio.file.Files.createTempDirectory("graft_scale").toString
    ScaleProbe10x.synthesize(spark, dir, w, n)
    w
  }
  private def read(d: String, t: String) = spark.read.parquet(s"$d/$t.parquet")
  private def distinct(df: DataFrame, c: String) = df.select(c).distinct().count()

  test("each scaled table holds exactly N x the rows and N x the distinct keys; the rest are copied") {
    val scaledKeys = Map(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    for ((t, keys) <- scaledKeys) {
      val (one, scaled) = (read(dir, t), read(work, t))
      assert(scaled.count() == n * one.count(), t)
      assert(scaled.columns.toSeq == one.columns.toSeq, t)
      keys.foreach(k => assert(distinct(scaled, k) == n * distinct(one, k), s"$t.$k"))
    }
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "events"))
      assert(read(work, t).count() == read(dir, t).count(), t)
  }

  test("scaled embeddings keep every norm and are all distinct, up to the maximum scale") {
    def norms(df: DataFrame) = df.select(
      (col("vec_id") % 1000000000L).as("id"),
      sqrt(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x * x)).as("norm"))
    val one = norms(read(dir, "embeddings")).as[(Long, Double)].collect().toMap
    val scaled = norms(read(work, "embeddings")).as[(Long, Double)].collect()
    assert(scaled.length == n * one.size)
    scaled.foreach { case (id, nm) => assert(math.abs(nm - one(id)) <= 1e-9 * one(id), s"vec $id") }

    val emb = read(dir, "embeddings")
    for (m <- Seq(n, ScaleProbe10x.MaxScale))
      assert(distinct(ScaleProbe10x.scaleEmbeddings(emb, m), "embedding") == m * emb.count(), s"N=$m")
  }

  test("the copy tag is prefix-free: copy 1's 0ab and copy 10's ab stay apart") {
    val planted = Seq((1L, "0ab x"), (2L, "ab  x")).toDF("doc_id", "text")
    val words = ScaleProbe10x.scaleDocuments(planted, 11)
      .select((col("doc_id") / 1000000000L).cast("long").as("copy"),
        explode(split(col("text"), " ")).as("word"))
    val shared = words.groupBy("word").agg(countDistinct("copy").as("copies"))
      .filter(col("copies") > 1)
    assert(shared.isEmpty, shared.collect().mkString(", "))
    val tag = ScaleProbe10x.copyTag _
    assert(words.filter(col("word").isin(tag(1) + "0ab", tag(10) + "ab", tag(10))).count() == 3)
    assert((0 until ScaleProbe10x.MaxScale).map(tag).distinct.size == ScaleProbe10x.MaxScale)
  }

  test("the copy tag holds no digits, so the Gopher filter keeps as many documents of every copy") {
    assert(!(0 until ScaleProbe10x.MaxScale).map(ScaleProbe10x.copyTag).exists(_.exists(_.isDigit)))
    val perCopy = graft.text.QualityFilter.gopherFilter(
        ScaleProbe10x.scaleDocuments(read(dir, "documents"), 12), "doc_id", "text")
      .filter(col("keep") === 1)
      .groupBy((col("doc_id") / 1000000000L).cast("long").as("copy")).count()
      .as[(Long, Long)].collect().toMap
    assert(perCopy.keySet == (0L until 12L).toSet && perCopy.values.toSet.size == 1, perCopy.toString)
  }

  test("the boilerplate census and the sized LSH fan-out hold their invariants at N x") {
    val line = ScaleProbe10x.checkBoilerplate(read(dir, "documents"), read(work, "documents"), n)
    val (spans, dropped) = ScaleProbe10x.boilerplateCensus(read(dir, "documents"))
    assert(spans > 0 && dropped > 0, "the 1x corpus has no boilerplate to check")
    assert(line == s"INVARIANT boilerplate scale=$n spans=$spans/${n * spans} dropped=$dropped/${n * dropped}")
    assert(ScaleProbe10x.checkLshFanout(read(work, "embeddings")).startsWith("INVARIANT lsh_fanout"))
    // a census over copies that share their spans is not N x, and fails the check
    val e = intercept[IllegalStateException](ScaleProbe10x.checkBoilerplate(
      read(dir, "documents"), read(dir, "documents").unionByName(read(dir, "documents")), 2))
    assert(e.getMessage.contains("not exactly 2x"))
  }

  test("--scale=N takes an integer in [2, 128], 10 by default; anything else fails with the usage") {
    assert(ScaleProbe10x.parseScale(Seq("w", "q1")) == (10, Seq("w", "q1")))
    assert(ScaleProbe10x.parseScale(Seq("--scale=2", "w")) == (2, Seq("w")))
    assert(ScaleProbe10x.parseScale(Seq("w", "--scale=128")) == (128, Seq("w")))
    for (a <- Seq("--scale=1", "--scale=x", "--scale=129", "--scale", "--sf=3")) {
      val e = intercept[IllegalArgumentException](ScaleProbe10x.parseScale(Seq("w", a)))
      assert(e.getMessage.contains(s"'$a'") && e.getMessage.contains(ScaleProbe10x.Usage), a)
    }
  }

  test("every headline and spine query is registered") {
    val names = ScaleProbe10x.headline ++ ScaleProbe10x.spine
    assert(names.filterNot(SparkEntry.queries.contains).isEmpty)
  }
}
