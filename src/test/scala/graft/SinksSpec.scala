package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.io.{Sinks, SubmissionValidator}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def submission = Seq(
    (1, 10L, 100L, 5L), (1, 10L, 101L, 3L), (2, 10L, 100L, 0L),
    (3, 11L, 100L, 7L), (4, 11L, 101L, 2L), (5, 10L, 101L, 1L)
  ).toDF("semana", "pdv", "produto", "quantidade")

  test("csv submission round-trips through the ;-separated sink") {
    val dir = Files.createTempDirectory("graft_sub").toString + "/sub"
    val back = Sinks.csvSubmission(spark, submission, dir)
    assert(back.count() == 6)
    assert(back.columns.toSeq == Seq("semana", "pdv", "produto", "quantidade"))
    // separator really is ';': raw file has ; and no ,
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).head
    val firstLine = scala.io.Source.fromFile(part, "UTF-8").getLines().next()
    assert(firstLine == "semana;pdv;produto;quantidade")
    assert(SubmissionValidator.isValid(back))
  }

  test("validator rejects bad weeks, negatives, dupes and nulls") {
    val bad = Seq[(Option[Int], Option[Long], Long, Option[Double])](
      (Some(0), Some(10L), 100L, Some(5.0)),   // week out of range
      (Some(1), Some(10L), 100L, Some(-2.0)),  // negative qty
      (Some(2), Some(10L), 100L, Some(1.0)),   // one key three times
      (Some(2), Some(10L), 100L, Some(1.0)),
      (Some(2), Some(10L), 100L, Some(1.0)),
      (Some(3), None, 100L, Some(4.0)),        // null key
      (Some(4), Some(10L), 100L, None),        // null qty
      (Some(5), Some(10L), 100L, Some(2.5))    // non-integer qty
    ).toDF("semana", "pdv", "produto", "quantidade")
    val r = SubmissionValidator.report(bad).head()
    assert(r.getAs[Long]("total_rows") == 8L)
    assert(r.getAs[Long]("null_rows") == 2L)
    assert(r.getAs[Long]("bad_week_rows") == 1L)
    assert(r.getAs[Long]("negative_qty_rows") == 1L)
    assert(r.getAs[Long]("non_integer_rows") == 1L)
    assert(r.getAs[Long]("n_weeks") == 6L)
    assert(r.getAs[Long]("n_stores") == 1L)
    assert(r.getAs[Long]("n_products") == 1L)
    assert(r.getAs[Double]("qty_min") == -2.0)
    assert(r.getAs[Double]("qty_max") == 5.0)
    assert(math.abs(r.getAs[Double]("qty_mean") - 12.5 / 7) < 1e-12)
    assert(r.getAs[Long]("dup_rows") == 2L)
    assert(!SubmissionValidator.isValid(bad))
  }

  test("validator report on an empty frame: zero counts, null quantity stats") {
    val r = SubmissionValidator.report(submission.limit(0)).head()
    Seq("total_rows", "null_rows", "bad_week_rows", "negative_qty_rows",
      "non_integer_rows", "n_weeks", "n_stores", "n_products", "dup_rows")
      .foreach(c => assert(r.getAs[Long](c) == 0L, c))
    Seq("qty_min", "qty_max", "qty_mean").foreach(c => assert(r.isNullAt(r.fieldIndex(c)), c))
    assert(SubmissionValidator.isValid(submission.limit(0)))
  }

  test("isValid over the read-back CSV scans the file once") {
    val dir = Files.createTempDirectory("graft_sub_scan").toString + "/sub"
    val back = Sinks.csvSubmission(spark, submission, dir)
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(SubmissionValidator.isValid(back))
      GraftSqlBridge.statusJobs(spark) // drains the listener bus
    } finally spark.listenerManager.unregister(listener)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children
    }).flatMap(nodes)
    val seen = plans.synchronized(plans.toList)
    assert(seen.length == 1, s"isValid ran ${seen.length} queries")
    assert(nodes(seen.head).count(_.isInstanceOf[FileSourceScanExec]) == 1, seen.head)
  }

  test("the submission sink fails on an invalid file, naming its path") {
    val dir = Files.createTempDirectory("graft_sub_bad").toString + "/sub"
    val dupes = submission.union(submission.limit(1))
    val e = intercept[IllegalArgumentException](Sinks.csvSubmission(spark, dupes, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
  }

  test("validator rejects a frame missing required columns") {
    assert(!SubmissionValidator.isValid(Seq((1, 2)).toDF("a", "b")))
  }

  test("parquet sink writes partitioned layout") {
    val dir = Files.createTempDirectory("graft_pq").toString + "/out"
    Sinks.parquet(submission, dir, partitionByCols = Seq("semana"))
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("semana="))
    assert(dirs.length == 5)
    assert(spark.read.parquet(dir).count() == 6)
  }

  test("metadata CSV sink round-trips a stats frame with its header") {
    val dir = Files.createTempDirectory("graft_meta_csv").toString + "/stats"
    val stats = Seq(("wmape", 12.5), ("bias", -0.25)).toDF("metric", "value")
    Sinks.metadataCsv(stats, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.columns.toSeq == Seq("metric", "value"))
    assert(back.as[(String, Double)].collect().toSet == Set(("wmape", 12.5), ("bias", -0.25)))
  }

  test("metadata JSON sink round-trips a single-row frame") {
    val dir = Files.createTempDirectory("graft_meta_json").toString + "/meta"
    val meta = Seq(("champion", 5L, 0.75)).toDF("model", "horizon", "coverage")
    Sinks.metadataJson(meta, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    assert(parts.length == 1)
    val back = spark.read.json(dir)
    assert(back.select("model", "horizon", "coverage").as[(String, Long, Double)]
      .collect().toSeq == Seq(("champion", 5L, 0.75)))
  }
}
