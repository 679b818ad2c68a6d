package graft

import scala.util.control.NonFatal

import graft.sim.Similarity
import graft.text.Boilerplate
import graft.tools.QTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale instrument: synthesizes an N× copy (default 10×) of the SF
  * directory in `$SPARK_GRAFT_SF_DIR` and times the most expensive
  * headline rows plus the Bench spine at BOTH scales, so a serial or
  * superlinear operator shows up where the sf0.1 suite, which sits on
  * the scheduling floor, cannot show it.
  *
  *  - data directory from `$SPARK_GRAFT_SF_DIR` (default
  *    /root/testdata/sf0.1), core count from `$SPARK_GRAFT_CPUS`
  *    (master `local[$SPARK_GRAFT_CPUS]`);
  *  - synthesis ([[synthesize]]): one `explode(sequence(0, N-1))` per
  *    scaled table, copy k shifting the keys into a disjoint range, so
  *    entity and series counts grow N× with unchanged per-entity depth
  *    (the shape a real N× volume has). `lineitem` and `orders` shift
  *    their keys; `documents` shifts `doc_id` and tags every word with
  *    its copy (see [[scaleDocuments]]); `embeddings` shifts
  *    `vec_id` and rotates and sign-flips each copy's vectors (see
  *    [[scaleEmbeddings]]). Dimension tables and `events` stay unscaled;
  *  - two exact invariants are checked on every run, before any timing,
  *    and a violation fails the run: the boilerplate census at N× is
  *    exactly N× the 1× census ([[checkBoilerplate]]), and the LSH
  *    fan-out at the API-sized width stays linear ([[checkLshFanout]]);
  *  - every probed query is timed at 1× and N× through [[QTime.pass]],
  *    warm best-of-2. Its `QPROF` lines (with `<q>@1x` / `<q>@<N>x` as
  *    the query label) go to stderr, then one `SCALE` line with the
  *    best pass's wall, jobs, shuffle read+write MB, task CPU s and
  *    spill MB at both scales and their N×/1× ratios. Counter ratios do
  *    not move with host load the way wall ratios do;
  *  - stdout gets ONE JSON line: `value` = total wall seconds at N×,
  *    `queries` = per-query N× seconds, `ratios` = per-query wall ratios
  *    (≤ ~N ⇒ at worst linear in rows), plus the N× spine rows/s. At
  *    the default N = 10 its keys are exactly those of earlier records
  *    (`scale10x_total`, `fact_rows_10x`, `spine_rows_per_sec_10x`).
  *
  * Everything is computed from the parquet inputs within the run — the
  * synthesized directory is rebuilt from `$SPARK_GRAFT_SF_DIR` every
  * invocation and carries no precomputed results.
  *
  * Usage: `runMain graft.ScaleProbe10x [--scale=N] [workDir] [query...]`
  * — N is an integer in [2, [[MaxScale]]]; extra registered-query names
  * after `workDir` join the probed rows (e.g. the document legs
  * q65_minhash_candidates, q292_winnow_pairs, q106_ann_ivf).
  */
object ScaleProbe10x {
  val Usage = "ScaleProbe10x [--scale=N] [workDir] [query ...]"
  /** Width of the test data's embeddings. */
  val EmbeddingDim = 64
  /** A copy's (rotation, sign) pair is distinct only for N ≤ 2·dim. */
  val MaxScale: Int = 2 * EmbeddingDim

  private[graft] val headline = Seq(
    "q110_feature_store", "q283_als_portable", "q288_quality_classifier",
    "q138_curate", "q318_theil_sen", "q21_cooccurrence",
    "q285_kmv_distinct", "q272_validation", "q312_boilerplate", "q147_bpe",
    "q262_quantile_reg", "q130_quality_filter", "q302_cm_frequency",
    "q64_ngram_jaccard", "q346_price_anomaly", "q350_successive_halving")
  private[graft] val spine = Seq("q22_weekly_aggregate", "q40_rolling_stats", "q37_scorecard")

  /** Splits `--scale=N` (default 10) from the positional arguments. Any
    * other `--` argument, or an N that is not an integer in
    * [2, MaxScale], fails with the usage message, naming the argument. */
  def parseScale(args: Seq[String]): (Int, Seq[String]) = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    def bad(a: String) = throw new IllegalArgumentException(
      s"bad argument '$a': expected --scale=N with N an integer in [2, $MaxScale]. Usage: $Usage")
    val n = flags match {
      case Seq() => 10
      case Seq(a) if a.startsWith("--scale=") =>
        a.stripPrefix("--scale=").toIntOption.filter(n => n >= 2 && n <= MaxScale).getOrElse(bad(a))
      case _ => bad(flags.mkString(" "))
    }
    n -> rest
  }

  private val KeyShift = 1000000000L
  private val LineitemShifts =
    Seq("l_orderkey" -> KeyShift, "l_partkey" -> 10000000L, "l_suppkey" -> 1000000L)
  private val OrdersShifts = Seq("o_orderkey" -> KeyShift, "o_custkey" -> 10000000L)
  private val Unscaled = Seq("region", "nation", "customer", "supplier", "part", "events")

  /** N copies of `df`, one `__k` (0 until n) per copy, in n partitions. */
  private def copies(df: DataFrame, n: Int): DataFrame =
    df.withColumn("__k", explode(sequence(lit(0), lit(n - 1)))).repartition(n)

  private def shifted(c: String, unit: Long) = col(c) + col("__k").cast("long") * lit(unit)

  /** Copy k adds k·unit to each of `shifts`' key columns. */
  private def scaleKeys(df: DataFrame, n: Int, shifts: Seq[(String, Long)]): DataFrame =
    shifts.foldLeft(copies(df, n)) { case (d, (c, unit)) => d.withColumn(c, shifted(c, unit)) }
      .drop("__k")

  /** Copy k's word tag: k as two base-26 letters, then `_`. */
  def copyTag(k: Int): String = s"${('a' + k / 26).toChar}${('a' + k % 26).toChar}_"

  /** Copy k shifts `doc_id` and prefixes every space-separated word
    * (empty words included) with [[copyTag]]. Tagging words makes word
    * spans and shingles disjoint across copies, so each copy carries the
    * 1× corpus's own near-duplicate and boilerplate structure exactly and
    * the census invariant can hold. A whole-text salt such as a `" c<k>"`
    * suffix would instead make every copy a near-duplicate of all the
    * others. The tag must be prefix-free — with a bare `c<k>`, copy 1's
    * word `0ab` and copy 10's `ab` both read `c10ab` — and fixed width
    * gives that. It holds no digits: a `c<k>_` tag pushes the Gopher
    * digit-ratio test (< 0.2) over the limit from k = 10 on, so the
    * quality filters would drop most copies the source keeps. */
  def scaleDocuments(docs: DataFrame, n: Int): DataFrame =
    copies(docs, n)
      .withColumn("doc_id", shifted("doc_id", KeyShift))
      .withColumn("text", regexp_replace(col("text"), lit("(^| )"),
        concat(lit("$1"), element_at(typedLit((0 until n).map(copyTag)), col("__k") + 1))))
      .drop("__k")

  /** Copy k shifts `vec_id`, rotates each vector circularly by
    * k mod dim and negates it for k ≥ dim: the norms and the coordinate
    * distribution are unchanged, every vector is distinct for
    * N ≤ [[MaxScale]], and cross-copy cosines are decorrelated. */
  def scaleEmbeddings(emb: DataFrame, n: Int): DataFrame = {
    val s = col("__k") % EmbeddingDim + 1
    val sign = when(col("__k") >= EmbeddingDim, lit(-1.0f)).otherwise(lit(1.0f))
    copies(emb, n)
      .withColumn("vec_id", shifted("vec_id", KeyShift))
      .withColumn("embedding", transform(
        concat(slice(col("embedding"), s, lit(EmbeddingDim)),
          slice(col("embedding"), lit(1), s - 1)), x => x * sign))
      .drop("__k")
  }

  /** Writes the N× copy of `src` under `work`. */
  def synthesize(spark: SparkSession, src: String, work: String, n: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String) = df.write.mode("overwrite").parquet(s"$work/$t.parquet")
    write(scaleKeys(read("lineitem"), n, LineitemShifts), "lineitem")
    write(scaleKeys(read("orders"), n, OrdersShifts), "orders")
    write(scaleDocuments(read("documents"), n), "documents")
    write(scaleEmbeddings(read("embeddings"), n), "embeddings")
    Unscaled.foreach(t => write(read(t), t))
  }

  /** (distinct boilerplate spans, dropped span occurrences) of q312's
    * scrub: w = 3, maxDocFreq = 5. */
  def boilerplateCensus(docs: DataFrame): (Long, Long) = {
    val spans = Boilerplate.census(docs, "doc_id", "text", 3)
      .filter(col("span_df") >= 5).count()
    val dropped = Boilerplate.scrub(docs, "doc_id", "text", w = 3, maxDocFreq = 5)
      .agg(coalesce(sum(col("n_dropped")), lit(0L))).head().getLong(0)
    (spans, dropped)
  }

  /** Fails unless both census counts of `scaled` are exactly n× those of
    * `one`; any deviation means spans collide across copies. */
  def checkBoilerplate(one: DataFrame, scaled: DataFrame, n: Int): String = {
    val ((s1, d1), (sN, dN)) = (boilerplateCensus(one), boilerplateCensus(scaled))
    val line = s"INVARIANT boilerplate scale=$n spans=$s1/$sN dropped=$d1/$dN"
    if (sN != n * s1 || dN != n * d1)
      throw new IllegalStateException(s"$line: the ${n}x census is not exactly ${n}x the 1x census")
    line
  }

  /** Fails unless the fan-out at the API-sized width
    * (`Similarity.sizeLshWidth`, two bands) is ≤ 10·rows, the bound
    * R15OpsSpec pins; reports the q218 fixed-parameter fan-out beside it. */
  def checkLshFanout(scaled: DataFrame): String = {
    val rows = scaled.count()
    val width = Similarity.sizeLshWidth(rows)
    val sized = Similarity.lshBucketFanout(scaled, EmbeddingDim, numPlanes = 2 * width, bands = 2)
    val fixed = Similarity.lshBucketFanout(scaled, EmbeddingDim, numPlanes = 16, bands = 8)
    val line = s"INVARIANT lsh_fanout vectors=$rows width=$width sized=$sized fixed_16p8b=$fixed"
    if (sized > 10 * rows)
      throw new IllegalStateException(s"$line: sized fan-out exceeds 10 x $rows")
    line
  }

  /** The counters of one pass, summed over its build and exec phases. */
  private case class Totals(wallS: Double, jobs: Double, shuffleMb: Double,
                            cpuS: Double, spillMb: Double)
  private def totals(phases: Seq[QTime.Phase]): Totals = {
    val st = phases.flatMap(_.stages)
    Totals(phases.map(_.wallS).sum, phases.map(_.jobs.size).sum,
      st.map(s => s.shuffleReadBytes + s.shuffleWriteBytes).sum / 1e6,
      st.map(_.executorCpuTime).sum / 1e9,
      st.map(s => s.memoryBytesSpilled + s.diskBytesSpilled).sum / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val (n, rest) = parseScale(args.toSeq)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val work = rest.headOption.getOrElse("target/scaleprobe10x_driver")
    val extra = rest.drop(1)
    val probes = headline ++ extra
    val unknown = (probes ++ spine).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown registered queries: ${unknown.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tag = s"${n}x"

    spark.sparkContext.setJobDescription(s"scale$tag: synthesize")
    synthesize(spark, src, work, n)
    spark.sparkContext.setJobDescription(s"scale$tag: invariants")
    def read(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")
    System.err.println(checkBoilerplate(read(src, "documents"), read(work, "documents"), n))
    System.err.println(checkLshFanout(read(work, "embeddings")))
    spark.sparkContext.setJobDescription(null)

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // codegen/JIT warmup at the smallest SF so both timed scales are warm
    (probes ++ spine).foreach { q =>
      try run(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      catch { case NonFatal(e) => System.err.println(s"[scale$tag] warm-up of $q failed: $e") }
    }
    def best(q: String, dir: String, label: String): Totals =
      (1 to 2).map { i =>
        val phases = QTime.pass(spark, dir, q)
        phases.foreach(p => System.err.println(p.line(s"$q@$label", i)))
        totals(phases)
      }.minBy(_.wallS)
    def ratio(a: Double, b: Double) = if (a == 0) "-" else f"${b / a}%.2f"
    def probe(q: String): (String, Double, Double) = {
      val (a, b) = (best(q, src, "1x"), best(q, work, tag))
      def field(name: String, f: Totals => Double, digits: Int = 2) =
        s"$name=%.${digits}f/%.${digits}f(%s)".format(f(a), f(b), ratio(f(a), f(b)))
      System.err.println(s"SCALE $q scale=$n " + Seq(
        field("wall_s", _.wallS), field("jobs", _.jobs, 0), field("shuffle_mb", _.shuffleMb),
        field("task_cpu_s", _.cpuS), field("spill_mb", _.spillMb)).mkString(" "))
      (q, a.wallS, b.wallS)
    }

    val rows1 = read(src, "lineitem").count()
    val rowsN = read(work, "lineitem").count()
    val results = probes.map(probe)
    val spineRuns = spine.map(probe)
    val (sA, sB) = (spineRuns.map(_._2).sum, spineRuns.map(_._3).sum)

    // compact one-line JSON, keys truncated to qNNN so the line fits the
    // driver's 2000-byte stdout tail window (the Bench convention)
    def qk(q: String) = "\"" + q.takeWhile(_ != '_').drop(1) + "\""
    val totalN = results.map(_._3).sum + sB
    val qs = (results.map { case (q, _, b) => qk(q) + f":$b%.2f" } :+
      f""""spine":$sB%.2f""").mkString("{", ",", "}")
    val ratios = (results.map { case (q, a, b) => qk(q) + f":${b / a}%.2f" } :+
      f""""spine":${sB / sA}%.2f""").mkString("{", ",", "}")
    println(f"""{"metric":"scale${tag}_total","value":$totalN%.3f,"unit":"sec","queries":$qs,"ratios":$ratios,"sf":"$src","fact_rows_1x":$rows1,"fact_rows_$tag":$rowsN,"spine_rows_per_sec_$tag":${rowsN / sB}%.0f}""")
    spark.stop()
  }
}
