package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal bridge into two `private[sql]` seams graft's plan-level
  * machinery needs (the standard technique for libraries shipping
  * Catalyst rules — same-package access, no reflection):
  *
  *  - building a `DataFrame` from a rewritten `LogicalPlan`
  *    (`Dataset.ofRows`), for per-plan scoped rule application;
  *  - appending to a session's experimental optimizer rules, for
  *    session-wide conf-gated installation;
  *  - reading Spark's own status store (`private[spark]`) for the
  *    per-phase job and stage counters `graft.tools.QTime` prints.
  *
  * Everything else in graft stays on the public DataFrame/Catalyst
  * API; keep this file to these seams.
  */
object GraftSqlBridge {

  /** Wrap an analyzed/rewritten logical plan as a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently append `rule` to the session's user-provided
    * optimizer batch (runs to fixed point after the main optimizer). */
  def addOptimizerRule(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }

  /** Idempotently append a planner strategy (tried before the built-in
    * strategies), so custom logical nodes reach their physical form. */
  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Normalize floating-point groups in `e` exactly the way Spark's
    * own joins/aggregates do (`NormalizeFloatingNumbers`: -0.0 → 0.0,
    * all NaN bit patterns → the canonical NaN, recursing into
    * struct/array/map) — that optimizer rule only matches the built-in
    * Join/Window/Aggregate nodes, so custom operators comparing keys
    * with `RowOrdering`/hashing must apply it themselves or silently
    * miss matches SQL equality would make. No-op for types that don't
    * need it. */
  def normalizeFloatingNumbers(e: org.apache.spark.sql.catalyst.expressions.Expression):
      org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Unpersist the localCheckpoint blocks backing `df`. A
    * `localCheckpoint(eager = true)` Dataset is a `LogicalRDD` over a
    * persisted RDD — RDD-level storage `Dataset.unpersist` does NOT
    * release (that only clears CacheManager entries), so a memo
    * registry evicting checkpointed frames walks the plan and
    * unpersists the backing RDDs directly. Non-blocking; a plan with
    * no LogicalRDD is a no-op. */
  def unpersistCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        try l.rdd.unpersist(blocking = false)
        catch { case _: Throwable => () }
      case _ => ()
    }

  /** Every job in Spark's own status store, read once the listener bus
    * has delivered every posted event, so a job that just finished is
    * present with its final counts. */
  def statusJobs(spark: SparkSession): Seq[org.apache.spark.status.api.v1.JobData] = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    sc.statusStore.jobsList(java.util.Collections.emptyList())
  }

  /** Every recorded attempt of the given stages from the status store
    * (skipped stages included, with status SKIPPED). */
  def stageAttempts(spark: SparkSession, stageIds: Seq[Int]):
      Seq[org.apache.spark.status.api.v1.StageData] =
    stageIds.flatMap(spark.sparkContext.statusStore.stageData(_))

  /** Test probe: apply a session-extensions installer to a fresh
    * `SparkSessionExtensions` and report what it would inject at
    * session construction — (optimizer rules, planner strategies,
    * newly registered function names). `spark.sql.extensions` is a
    * STATIC conf (it only takes effect when the SparkContext is built
    * with it), so an in-JVM suite probes the injection surface here
    * and exercises the behaviors through the live-session seams
    * ([[addOptimizerRule]] / [[addStrategy]] / function register). */
  def probeExtensions(spark: SparkSession,
                      installer: SparkSessionExtensions => Unit):
      (Seq[Rule[LogicalPlan]], Seq[SparkStrategy], Seq[String]) = {
    val ext = new SparkSessionExtensions
    installer(ext)
    val cs = spark.asInstanceOf[classic.SparkSession]
    val base = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    val before = base.listFunction().map(_.funcName).toSet
    val after = ext.registerFunctions(base)
    (ext.buildOptimizerRules(cs), ext.buildPlannerStrategies(cs),
      after.listFunction().map(_.funcName).filterNot(before))
  }
}
