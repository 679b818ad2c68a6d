package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it.  `module` is the graft package
  * named by the first graft frame of the job's call site (Spark's own long
  * call site, or that of the SQL execution the job belongs to), "bench" for
  * the benchmark's own actions, or "other". */
final class JobRec(val id: Int, val start: Long, val callSite: String, val module: String) {
  var end: Long = start
  var stages = 0
  var tasks = 0
  var emptyTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Collects every job, stage and task of the session.  Tasks are charged to
  * the job that owns their stage; the benchmark cuts the job list into ops by
  * job id. */
class PerfListener extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  def jobCount: Int = synchronized(jobs.size)
  def jobsFrom(i: Int): Seq[JobRec] = synchronized(jobs.drop(i).toList)

  private val execSite = mutable.HashMap.empty[Long, String]

  /** A SQL execution records the call site of the action that started it,
    * taken on the caller's thread; nested executions inherit their root's. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val root = s.rootExecutionId.collect { case r: Long if r != s.executionId => r }
      execSite(s.executionId) = root.flatMap(execSite.get).getOrElse(PerfListener.caller(s.details))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    // jobs of a SQL execution may be submitted from Spark's own threads,
    // whose stacks hold no caller: use the execution's call site then
    val own = last.map(s => PerfListener.caller(s.details)).getOrElse("")
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    val site = if (PerfListener.moduleOf(own) != "other") own else exec.getOrElse(own)
    val j = new JobRec(e.jobId, e.time, site, PerfListener.moduleOf(site))
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.waitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmitted.getOrElse(e.stageId, e.taskInfo.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) j.emptyTasks += 1
      }
    }
  }
}

object PerfListener {
  /** The first graft or benchmark frame of a long call site (which starts
    * with the last Spark method), else its first line. */
  def caller(details: String): String = {
    val lines = details.linesIterator.map(_.trim).toList
    lines.find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .orElse(lines.headOption).getOrElse("")
  }

  /** `graft.seq.Champion$.championForecast(Champion.scala:250)` → `seq`;
    * `graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:12)` →
    * `SparkEntry`. */
  def moduleOf(site: String): String = {
    val cls = site.takeWhile(_ != '(').split('.').dropRight(1)
    if (cls.headOption.contains("graft") && cls.length >= 3) cls(1)
    else if (cls.headOption.contains("graft") && cls.length == 2) cls(1).stripSuffix("$")
    else if (cls.headOption.contains("perfbench")) "bench"
    else "other"
  }
}
