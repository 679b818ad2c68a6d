package graft.seq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A series' tail — its last values or state, its season bases and its
  * row count — read the one way every forecaster in `seq` reads it.
  * [[indexed]] adds the ascending row number and the series length as
  * window columns over `partitionBy(keys).orderBy(ord)`, the order the
  * fit's own lags, sums and recursions run in, so they share its
  * exchange and sort. [[of]] is the one `groupBy(keys)` aggregate, and
  * [[last]], [[first]] and [[bases]] are the tail columns it evaluates
  * beside the caller's own aggregates (exact sums, packed cells), each
  * as `max(when(rn = n − j, …))`, the form Champion.memberTable reads
  * its members' tails in. A frame that drops leading rows after
  * [[indexed]] (a differenced series) keeps its tail addressable: the
  * index counts the rows before the filter, and the filter never drops
  * a series' last rows.
  */
private[seq] object SeriesTail {

  private val Rn = "__rn"
  private val Len = "__len"

  /** The row count column [[of]] yields. */
  val Count = "__count"

  /** `df` with the ascending row number and the series length. */
  def indexed(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ordCols: _*)
    df.select(col("*"), row_number().over(w).as(Rn), count(lit(1))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as(Len))
  }

  /** `c` on row n − `back` of its series, as an aggregate; NULL where
    * that row is not in the frame. */
  def last(c: Column, back: Column = lit(0)): Column =
    max(when(col(Rn) === col(Len) - back, c))

  /** `c` on the series' first row, as an aggregate. */
  def first(c: Column): Column = max(when(col(Rn) === 1, c))

  /** The season bases `__b1`..`__bh`: step s reads `c` on row
    * n − m + ((s − 1) mod m) + 1, its phase one period `m` back (NULL
    * where that row is not observed). */
  def bases(c: Column, m: Column, h: Int): Seq[Column] =
    (1 to h).map(s => last(c, m - lit(1) - lit(s - 1) % m).as(s"__b$s"))

  /** The one per-series aggregate: keys…, [[Count]], then `cols`. */
  def of(df: DataFrame, keyCols: Seq[String], cols: Seq[Column]): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as(Count), cols: _*)
}
