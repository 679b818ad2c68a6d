package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Add, AggregateWindowFunction, AttributeReference, Expression, If, IsNull, Literal, Multiply}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** EWMA (`adjust=False`: y_0 = x_0; y_t = α·x_t + (1−α)·y_{t−1}) as a
  * native running window AGGREGATE — the declarative replacement of
  * `SequentialKernels.withEwma`'s streaming fold (kept in the test tree
  * as `SequentialKernelsReference.withEwmaFold`), built so the kernel
  * participates in Catalyst instead of hiding behind an opaque
  * `MapPartitions`:
  *
  *  - **prunable**: a consumer that drops the EWMA column (q110 selects
  *    11 of `FeatureStore.wide`'s ~60 features and not `ewma_03`)
  *    prunes the whole computation away — the fold form always ran,
  *    plus its repartition exchange and Row ser/deser (guide §2.3:
  *    opaque operations defeat column pruning);
  *  - **exchange-sharing**: the window's ENSURE_REQUIREMENTS reuses any
  *    existing hash partitioning on the series key and co-plans with
  *    the other window features in the same (partition, order) group —
  *    the fold's MapPartitions reported unknown partitioning, forcing
  *    a SECOND exchange before downstream window features;
  *  - **no boundary crossing**: the fold deserialized every row to an
  *    external Row and re-serialized it (one boxed Seq per row).
  *
  * Value equivalence to the fold: WindowExec evaluates an
  * UnboundedPreceding..CurrentRow frame incrementally — one `update`
  * per row in window order, evaluate after each — so the recursion
  * runs in the identical order with the identical double arithmetic
  * (`α·x + (1−α)·y`, the literals folded on the driver exactly as the
  * Scala closure folded them). NULL inputs leave the state unchanged
  * and emit the current state, matching the fold's
  * `ewm(ignore_na=False)`-adjacent contract; leading NULLs emit NULL
  * (state not yet seeded). SequentialKernelsSpec pins the window form
  * against the fold form row for row; the q73 oracle replays the
  * recursion end to end in DuckDB.
  */
case class EwmaExpr(x: Expression, alpha: Double) extends AggregateWindowFunction {

  require(alpha > 0 && alpha <= 1, "alpha must lie in (0, 1]")

  override def children: Seq[Expression] = Seq(x)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_ewma"

  private lazy val y = AttributeReference("y", DoubleType, nullable = true)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(y)

  override lazy val initialValues: Seq[Expression] = Seq(Literal(null, DoubleType))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(x), y,
      If(IsNull(y), x,
        Add(Multiply(Literal(alpha), x), Multiply(Literal(1 - alpha), y)))))

  override lazy val evaluateExpression: Expression = y

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(x = newChildren.head)
}

object EwmaExpr {
  /** Column builder with the window spec attached DIRECTLY: the public
    * `Column.over` wraps any AggregateFunction in an AggregateExpression
    * before building the WindowExpression, which hides the function's
    * own running frame from ResolveWindowFrame and trips CheckAnalysis
    * (WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE) — so the WindowExpression is
    * assembled here with the bare function, UnspecifiedFrame (the
    * analyzer adopts the function's rows UNBOUNDED PRECEDING..CURRENT
    * ROW), and ascending NULLS FIRST order, matching the fold's
    * sortWithinPartitions order. Input is cast to double (the fold's
    * typed-getter widening). */
  def over(x: Column, alpha: Double,
           partitionBy: Seq[Column], orderBy: Seq[Column]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder, UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
    val order = orderBy.map(GraftBridge.expression).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    GraftBridge.column(WindowExpression(
      EwmaExpr(GraftBridge.expression(x.cast("double")), alpha),
      WindowSpecDefinition(partitionBy.map(GraftBridge.expression),
        order, UnspecifiedFrame)))
  }
}
