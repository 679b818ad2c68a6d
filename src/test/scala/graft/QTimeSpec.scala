package graft

import graft.tools.{PlanAudit, QTime}
import org.apache.spark.sql.GraftSqlBridge

class QTimeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Job ids of every job the status store recorded during `body`. */
  private def recordedDuring[T](body: => T): (T, Set[Int]) = {
    val before = GraftSqlBridge.statusJobs(spark).map(_.jobId).maxOption.getOrElse(-1)
    val out = body
    (out, GraftSqlBridge.statusJobs(spark).map(_.jobId).filter(_ > before).toSet)
  }

  test("every job of a pass lands in its build or exec group, broadcast and AQE jobs included") {
    val s = spark.newSession()
    try {
      for (q <- Seq("q259_champion", "q267_champion_blend", "q23_enrich_join"); pass <- 1 to 2) {
        val (phases, recorded) = recordedDuring(QTime.pass(s, dir, q))
        assert(phases.map(_.name) == Seq("build", "exec"))
        assert(recorded.nonEmpty && phases.forall(_.wallS > 0))
        assert(phases.flatMap(_.jobs.map(_.jobId)).toSet == recorded, s"$q pass $pass")
        phases.foreach { p =>
          val line = p.line(q, pass)
          assert(line.startsWith(s"QPROF $q pass=$pass phase=${p.name} "))
          assert(line.endsWith(s" codegen_compiles=${p.codegenCompiles}") && p.codegenCompiles >= 0,
            line)
        }
      }
      // the enrich join broadcasts, so its broadcast jobs were among those attributed
      val df = SparkEntry.queries("q23_enrich_join")(s, dir)
      df.write.mode("overwrite").format("noop").save()
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    } finally SparkEntry.releaseMemos(s)
  }

  test("q259's first pass builds the champion memo at build time; q267's first pass hits it") {
    val s = spark.newSession()
    try {
      val q259 = QTime.pass(s, dir, "q259_champion").head
      val q267 = QTime.pass(s, dir, "q267_champion_blend").head
      assert(q259.name == "build" && q267.name == "build")
      assert(q259.jobs.nonEmpty && q259.stages.nonEmpty)
      assert(q267.jobs.size < q259.jobs.size)
    } finally SparkEntry.releaseMemos(s)
  }

  test("--conf=k=v=w parses to k -> v=w; a bare --conf=k fails naming it, in QTime and PlanAudit") {
    val (confs, rest) = QTime.splitConfs(Seq("/d", "--conf=k=v=w", "q1"), QTime.Usage)
    assert(confs == Seq("k" -> "v=w") && rest == Seq("/d", "q1"))
    val qt = intercept[IllegalArgumentException](QTime.main(Array(dir, "--conf=k", "q1")))
    assert(qt.getMessage.contains("'--conf=k'") && qt.getMessage.contains(QTime.Usage))
    val pa = intercept[IllegalArgumentException](PlanAudit.main(Array("--counts", "--conf=k")))
    assert(pa.getMessage.contains("'--conf=k'") && pa.getMessage.contains(PlanAudit.Usage))
  }
}
