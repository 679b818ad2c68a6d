package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (SCD Type 2) interval construction from a
  * change log or a snapshot feed: collapse consecutive rows with
  * identical attribute values into validity intervals [valid_from,
  * valid_to), the canonical "latest attribute as of time T" structure a
  * feature store joins against (pairs with [[AsOfJoin]] for
  * point-in-time-correct training data — the leakage-free lookup the
  * reference's validation split protocol demands, reference:
  * src/validation/temporal_validation.py). q145 builds intervals from
  * the events log, q207 compresses a daily discount history.
  *
  * Gaps-and-islands on value CHANGE: a run-start flag via lag, a running
  * count of starts as the run index, then one aggregate per (key, run).
  * Scale shape (100 TB): ONE shuffle on the entity key; both windows and
  * the run aggregate reuse that partitioning (key-prefixed keys), so
  * Catalyst plans a single exchange. Per-entity history is the only
  * sequential dimension — bounded per key, unbounded across keys.
  */
object Scd {

  /** Build SCD2 intervals. `order` must be a deterministic total order
    * within each key (append a tiebreaker id when its head can tie).
    * Each output row is one constant-attribute run: keys, attrs,
    * `valid_from` (the run's first `order.head` value), `valid_to` (the
    * next run's `valid_from`, NULL for the current run — the half-open
    * [from, to) convention), `n_obs` (rows in the run), `version`
    * (1-based run index) and `is_current`. A null attribute value is a
    * state of its own. */
  def scd2(df: DataFrame, keyCols: Seq[String], order: Seq[Column],
           attrCols: Seq[String]): DataFrame = {
    require(order.nonEmpty && attrCols.nonEmpty, "need an order and at least one attribute")
    val key = keyCols.map(col)
    val w = Window.partitionBy(key: _*).orderBy(order: _*)

    // a run starts at a key's first row or where any attribute differs
    // from the previous row's (null-safe); the running count of starts
    // numbers the runs from 1
    val start = attrCols.map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .foldLeft(row_number().over(w) === 1)(_ || _)
    val runs = df
      .withColumn("__start", when(start, 1L).otherwise(0L))
      .withColumn("version", sum(col("__start")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    // one row per run; attrs are constant within a run by construction
    val aggs = attrCols.map(a => first(col(a)).as(a)) ++
      Seq(min(order.head).as("valid_from"), count(lit(1)).as("n_obs"))
    runs.groupBy(key :+ col("version"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(key: _*).orderBy(col("version"))))
      .select(key ++ attrCols.map(col) ++ Seq(col("valid_from"), col("valid_to"),
        col("n_obs"), col("version"), col("valid_to").isNull.as("is_current")): _*)
  }
}
