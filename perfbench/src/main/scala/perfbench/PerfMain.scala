package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfBridge
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.app.Jobs
import graft.core.Tables
import graft.io.{Sinks, SubmissionValidator}
import graft.post.PostProcess
import graft.seq.Champion
import graft.text.{CorpusMix, Dedup, QualityFilter, SequencePack}

/** Runs one workload against the library and writes every raw measurement
  * (ops, their Spark jobs, and in traced runs the layer-prefix
  * materializations) as JSON.  `run.py` turns the record into metrics and
  * checks outputs against the oracle.
  *
  * Arguments: workload data-dir warm-dir work-dir seconds trace cores
  * warm-ops out-json */
object PerfMain {

  /** Registered queries sharing one memo slot: the first builds it (the
    * champion family fit), the second hits it. */
  val MemoBuild = "q259_champion"
  val MemoHit = "q267_champion_blend"
  /** The mix weights of the q138_curate registered query. */
  val CurateWeights: Map[String, Double] = Map(
    "src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.05, "src4" -> 0.05)

  final case class Seg(name: String, wallS: Double, jobs: Seq[JobRec], rows: Long)

  var spark: SparkSession = _
  var listener: PerfListener = _
  var cores = 4
  var localDir = ""

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, warmDir, workDir, secondsS, traceS, coresS, warmOpsS,
      outPath) = args
    cores = coresS.toInt
    localDir = s"$workDir/spark-local"
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val wl: Workload = workload match {
      case "submission_cold" => new SubmissionCold(dataDir, workDir)
      case "curate_corpus" => new CurateCorpus(dataDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]

    // set-up: session start plus the untimed warm-up ops on the smallest inputs
    val s0 = System.nanoTime()
    startSession()
    (1 to warmOpsS.toInt).foreach(_ => wl.warm(warmDir))
    out("setup_s") = (System.nanoTime() - s0) / 1e9

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    // closed loop, one client; in a traced run every second op is traced
    while (ops.isEmpty || (traced && ops.size == 1) || (System.nanoTime() - t0) / 1e9 < seconds)
      ops += wl.op(traced && ops.size % 2 == 1)
    out("ops") = ops.toSeq
    out("oracle_sql") = wl.oracleNames.map(n => n -> SparkEntry.oracleSql(n)).toMap
    stopSession()
    Files.write(Paths.get(outPath), Json(out).getBytes(StandardCharsets.UTF_8))
  }

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    listener = new PerfListener
    spark.sparkContext.addSparkListener(listener)
  }

  def stopSession(): Unit = {
    SparkEntry.releaseMemos(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def drain(): Unit = PerfBridge.drain(spark.sparkContext)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent content hash and row count of a frame, computed by
    * the action that materializes it. */
  def hashCols(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    Seq(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(1000000007L))), lit(0L)).as("h"))
  }

  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val o = Observation(name)
    (df.observe(o, hashCols(df).head, hashCols(df).tail: _*), o)
  }

  def hashOf(o: Observation): (Long, Long) = {
    val m = o.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** Hash of a frame by a separate action, outside any timed op. */
  def hashNow(df: DataFrame): (Long, Long) = {
    val hc = hashCols(df)
    val r = df.agg(hc.head, hc.tail: _*).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Heap in use after a full collection: what the session retains
    * between ops (cached and checkpointed blocks, memo tables).  The first
    * collection lets Spark's cleaner drop the blocks of frames that are no
    * longer referenced; the second reclaims them. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** Times one op and cuts its jobs out of the listener. */
  final class OpClock {
    drain()
    private val firstJob = listener.jobCount
    private val t0 = System.nanoTime()
    var wallS = 0.0
    private var jobs: Seq[JobRec] = null

    /** Ends the op on the first call; later calls return the same jobs. */
    def stop(): Seq[JobRec] = {
      if (jobs == null) {
        wallS = (System.nanoTime() - t0) / 1e9
        drain()
        jobs = listener.jobsFrom(firstJob)
      }
      jobs
    }
  }

  def seg(name: String, rows: => Long = -1L)(body: => Unit): Seg = {
    drain()
    val j0 = listener.jobCount
    val t0 = System.nanoTime()
    body
    val w = (System.nanoTime() - t0) / 1e9
    drain()
    Seg(name, w, listener.jobsFrom(j0), rows)
  }

  def jobJson(j: JobRec): Map[String, Any] = Map(
    "id" -> j.id, "start" -> j.start, "end" -> j.end, "site" -> j.callSite,
    "module" -> j.module, "stages" -> j.stages, "tasks" -> j.tasks,
    "empty_tasks" -> j.emptyTasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
    "gc_ms" -> j.gcMs, "wait_ms" -> j.waitMs, "shuffle_write" -> j.shuffleWrite,
    "shuffle_read" -> j.shuffleRead, "spill" -> j.spill, "input" -> j.input,
    "output" -> j.output)

  def opJson(clock: OpClock, jobs: Seq[JobRec], traced: Boolean,
             extra: Map[String, Any]): Map[String, Any] =
    Map("traced" -> traced, "wall_s" -> clock.wallS, "jobs" -> jobs.map(jobJson)) ++ extra

  def segJson(s: Seg): Map[String, Any] =
    Map("name" -> s.name, "wall_s" -> s.wallS, "rows" -> s.rows, "jobs" -> s.jobs.map(jobJson))

  /** Runs `body` as one op; a failure is recorded, never retried. */
  def attempt(traced: Boolean)(body: OpClock => Map[String, Any]): Map[String, Any] = {
    val clock = new OpClock
    try {
      val extra = body(clock)
      opJson(clock, clock.stop(), traced, extra) +
        ("ok" -> true) + ("heap_mb" -> retainedHeapMb())
    } catch {
      case e: Exception =>
        val jobs = clock.stop()
        opJson(clock, jobs, traced, Map.empty) + ("ok" -> false) +
          ("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(2000)) +
          ("heap_mb" -> retainedHeapMb())
    }
  }

  abstract class Workload {
    def warm(dir: String): Unit
    /** One closed-loop op. */
    def op(traced: Boolean): Map[String, Any]
    def oracleNames: Seq[String] = Nil
  }

  /** One cold pass of the forecasting app: feature store to parquet, the
    * forecast submission and the champion submission, memos released. */
  final class SubmissionCold(data: String, work: String) extends Workload {
    private val keys = Seq("l_partkey", "l_suppkey")

    private def pass(d: String, out: String): (DataFrame, DataFrame) = {
      SparkEntry.releaseMemos(spark)
      Sinks.parquet(Jobs.featureStore(spark, d), s"$out/feature_store")
      (Jobs.forecastSubmission(spark, d, out), Jobs.championSubmission(spark, d, out))
    }

    def warm(dir: String): Unit = pass(dir, s"$work/warm_out")

    def op(traced: Boolean): Map[String, Any] =
      attempt(traced) { clock =>
        val (sub, champ) = pass(data, s"$work/op")
        clock.stop()
        // checks and layer prefixes run after the op's clock has stopped
        val (subN, subH) = hashNow(sub)
        val (chN, chH) = hashNow(champ)
        val valid = SubmissionValidator.isValid(sub) && SubmissionValidator.isValid(champ)
        Map("checks" -> Map("submission_rows" -> subN, "submission_hash" -> subH,
          "champion_rows" -> chN, "champion_hash" -> chH, "valid" -> valid)) ++
          (if (traced) Map("segs" -> prefixes().map(segJson)) else Map.empty)
      }

    /** Each layer's prefix of the pipeline, materialized on its own. */
    private def prefixes(): Seq[Seg] = {
      SparkEntry.releaseMemos(spark)
      val tmp = s"$work/prefix"
      var li: DataFrame = null
      var part: DataFrame = null
      val b0 = seg("core.build") { li = Tables.lineitem(spark, data); part = Tables.part(spark, data) }
      val (liO, liObs) = observed(li, "li")
      val e0 = seg("core.exec", hashOf(liObs)._1) { noop(liO); noop(part) }
      var etl: DataFrame = null
      val b1 = seg("etl.build") { etl = Jobs.etl(spark, data) }
      val (etlO, etlObs) = observed(etl, "etl")
      val e1 = seg("etl.exec", hashOf(etlObs)._1) { noop(etlO) }
      var fs: DataFrame = null
      val b2 = seg("operators.build") { fs = Jobs.featureStore(spark, data) }
      val e2 = seg("operators.exec") { noop(fs) }
      val w2 = seg("io.parquet") { Sinks.parquet(fs, s"$tmp/feature_store") }
      var fc: DataFrame = null
      val b3 = seg("seq.build") {
        fc = Champion.championForecast(Jobs.etl(spark, data), keys,
          Seq(col("week_start")), "qty_sum", h = 5, m = 13)
      }
      // the forecast is cached as it is materialized: post-processing and the
      // sink are measured over it, so their prefixes do not re-run the
      // champion kernel
      fc.persist()
      val e3 = seg("seq.exec") { noop(fc) }
      val c3 = seg("seq.cached") { noop(fc) }
      // the champion leg's grid and post-processing, as Jobs.championSubmission
      val grid = fc.select(col("step").cast("int").as("semana"),
        col("l_suppkey").as("pdv"), col("l_partkey").as("produto"),
        col("forecast").as("quantidade"))
      val post = PostProcess.chain(Seq(
        PostProcess.nonNegative("quantidade"),
        PostProcess.sigmaCap("quantidade", 5.0),
        PostProcess.integerize("quantidade")))(grid)
        .withColumn("quantidade", col("quantidade").cast("long"))
      val e4 = seg("post.exec") { noop(post) }
      var back: DataFrame = null
      val w5 = seg("io.csv") { back = Sinks.csvSubmission(spark, post, s"$tmp/submission") }
      val r5 = seg("io.validate") { require(SubmissionValidator.isValid(back)) }
      fc.unpersist(blocking = true)
      Seq(b0, e0, b1, e1, b2, e2, w2, b3, e3, c3, e4, w5, r5) ++ memoSegs()
    }

    /** The registry's champion memo over the same inputs: the first query
      * after a release builds the shared fit tables, the second hits them. */
    private def memoSegs(): Seq[Seg] = {
      SparkEntry.releaseMemos(spark)
      val segs = Seq(MemoBuild -> "q259", MemoHit -> "q267").flatMap { case (key, q) =>
        var df: DataFrame = null
        Seq(seg(s"SparkEntry.$q.build") { df = SparkEntry.queries(key)(spark, data) },
          seg(s"SparkEntry.$q.exec") { noop(df) })
      }
      SparkEntry.releaseMemos(spark)
      segs
    }
  }

  /** The training-data curation pipeline over the generated corpus. */
  final class CurateCorpus(data: String, work: String) extends Workload {
    private val corpus = s"$data/corpus"

    private def run(d: String): Seq[org.apache.spark.sql.Row] =
      Jobs.curateCorpus(spark, d, CurateWeights, targetFraction = 0.5, budget = 256)
        .collect().toSeq

    def warm(dir: String): Unit = run(s"$dir/corpus")

    def op(traced: Boolean): Map[String, Any] =
      attempt(traced) { clock =>
        val rows = run(corpus)
        clock.stop()
        val summary = rows.map(r => r.schema.fieldNames.zip(r.toSeq.map(String.valueOf)).toMap)
        Map("summary" -> summary) ++
          (if (traced) Map("segs" -> prefixes().map(segJson)) else Map.empty)
      }

    private def prefixes(): Seq[Seg] = {
      var docs: DataFrame = null
      val b0 = seg("core.build") { docs = Tables.documents(spark, corpus) }
      val (docsO, docsObs) = observed(docs, "docs")
      val e0 = seg("core.exec", hashOf(docsObs)._1) { noop(docsO) }
      var kept: DataFrame = null
      val q = seg("text.gopherFilter") {
        val keepIds = QualityFilter.gopherFilter(docs, "doc_id", "text")
          .filter(col("keep") === 1).select(col("doc_id"))
        kept = docs.join(keepIds, Seq("doc_id"))
        noop(kept)
      }
      var deduped: DataFrame = null
      val d = seg("text.exactDedup") {
        deduped = Dedup.exactDedup(kept, "text", Seq(col("doc_id")))
        noop(deduped)
      }
      var mixed: DataFrame = null
      val m = seg("text.mixToTarget") {
        mixed = CorpusMix.mixToTarget(deduped, "doc_id", "source", CurateWeights, 0.5)
        noop(mixed)
      }
      val p = seg("text.bins") {
        SequencePack.bins(mixed, "source", "doc_id", "text", 256)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"))
          .collect()
      }
      Seq(b0, e0, q, d, m, p)
    }

    override def oracleNames: Seq[String] = Seq("q138_curate")
  }
}

/** Minimal JSON writer for the record (maps, sequences, numbers, strings). */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def str(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case s: String => str(s, sb)
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case it: Iterable[_] =>
      sb += '['
      it.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(x, sb) }
      sb += ']'
    case x => str(x.toString, sb)
  }
}
