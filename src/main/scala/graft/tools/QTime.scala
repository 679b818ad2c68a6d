package graft.tools

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.status.api.v1.{JobData, StageData, StageStatus}

/** Single-query timer and profiler: 3 warm passes of named queries at an
  * sfDir. Each pass runs the driver-side build
  * (`SparkEntry.queries(q)(spark, sfDir)`) and the execution (a noop
  * write) in job groups of their own, then reads Spark's status store
  * for the jobs and stages of each group and prints one line per phase:
  *
  * `QPROF <q> pass=<i> phase=<build|exec> wall_s jobs stages tasks
  * task_run_s task_cpu_s gc_s shuffle_read_mb shuffle_write_mb spill_mb
  * codegen_compiles`
  *
  * `codegen_compiles` is the number of classes Spark's whole-stage and
  * expression code generators compiled during the phase (the change in
  * `CodegenMetrics.METRIC_COMPILATION_TIME`'s count; a compile served
  * from Spark's codegen cache is not counted). The counter is JVM-wide,
  * so it is exact when one query runs at a time, as here.
  *
  * then, per query, `QTIME <q> <pass wall s…> min=<s>`.
  * Usage: runMain graft.tools.QTime <sfDir> [--conf=key=value ...] <q> [q...] */
object QTime {
  val Usage = "QTime <sfDir> [--conf=key=value ...] <query> [query ...]"

  /** Split `--conf=key=value` arguments (the value may itself hold `=`)
    * from the rest. An argument with no `=value` fails with `usage`,
    * naming the bad argument. Shared with [[PlanAudit]]. */
  def splitConfs(args: Seq[String], usage: String): (Seq[(String, String)], Seq[String]) = {
    val (confArgs, rest) = args.partition(_.startsWith("--conf="))
    confArgs.map(a => a.stripPrefix("--conf=").split("=", 2) match {
      case Array(k, v) if k.nonEmpty => k -> v
      case _ => throw new IllegalArgumentException(
        s"bad argument '$a': expected --conf=key=value. Usage: $usage")
    }) -> rest
  }

  /** One phase of one pass: its wall time and its status-store records. */
  case class Phase(name: String, wallS: Double, jobs: Seq[JobData], stages: Seq[StageData],
                   codegenCompiles: Long) {
    def line(q: String, pass: Int): String = {
      def mb(f: StageData => Long) = stages.map(f).sum / 1e6
      def secs(f: StageData => Long, perS: Double) = stages.map(f).sum / perS
      f"QPROF $q pass=$pass phase=$name wall_s=$wallS%.3f jobs=${jobs.size} " +
        f"stages=${stages.size} tasks=${stages.map(_.numTasks).sum} " +
        f"task_run_s=${secs(_.executorRunTime, 1e3)}%.2f task_cpu_s=${secs(_.executorCpuTime, 1e9)}%.2f " +
        f"gc_s=${secs(_.jvmGcTime, 1e3)}%.2f shuffle_read_mb=${mb(_.shuffleReadBytes)}%.2f " +
        f"shuffle_write_mb=${mb(_.shuffleWriteBytes)}%.2f " +
        f"spill_mb=${mb(st => st.memoryBytesSpilled + st.diskBytesSpilled)}%.2f " +
        s"codegen_compiles=$codegenCompiles"
    }
  }

  /** Build and execute `q` once; returns its build and exec phases. */
  def pass(spark: SparkSession, sfDir: String, q: String): Seq[Phase] = {
    val sc = spark.sparkContext
    var df: DataFrame = null
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(name: String)(body: => Unit): (String, String, Double, Long) = {
      val group = s"qtime-$q-$name-${System.nanoTime()}"
      sc.setJobGroup(group, s"QTime $q $name")
      val (t0, c0) = (System.nanoTime(), compiles)
      try body finally sc.clearJobGroup()
      (name, group, (System.nanoTime() - t0) / 1e9, compiles - c0)
    }
    val timed = Seq(
      run("build") { df = graft.SparkEntry.queries(q)(spark, sfDir) },
      run("exec") { df.write.mode("overwrite").format("noop").save() })
    val all = GraftSqlBridge.statusJobs(spark)
    timed.map { case (name, group, wall, compiled) =>
      val jobs = all.filter(_.jobGroup.contains(group))
      Phase(name, wall, jobs, GraftSqlBridge.stageAttempts(spark,
        jobs.flatMap(_.stageIds).distinct).filter(_.status != StageStatus.SKIPPED), compiled)
    }
  }

  def main(args: Array[String]): Unit = {
    val (confs, rest) = splitConfs(args.toSeq, Usage)
    require(rest.size >= 2, s"Usage: $Usage")
    val (sfDir, names) = (rest.head, rest.tail)
    val builder = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val times = (1 to 3).map { i =>
        val phases = pass(spark, sfDir, n)
        phases.foreach(p => println(p.line(n, i)))
        phases.map(_.wallS).sum
      }
      println(f"QTIME $n ${times.map(t => f"$t%.2f").mkString(" ")} min=${times.min}%.2f")
    }
    spark.stop()
  }
}
