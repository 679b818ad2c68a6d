package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Add, AggregateWindowFunction,
  Ascending, AttributeReference, CreateNamedStruct, Divide, Expression,
  GreaterThan, If, IsNull, Literal, Multiply, SortOrder, Subtract,
  UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StructField, StructType}

/** The sequential per-series recursions of `graft.seq.SequentialKernels`
  * as native running window AGGREGATES (rows UNBOUNDED PRECEDING ..
  * CURRENT ROW), following [[EwmaExpr]]: prunable by Catalyst,
  * exchange-sharing with neighboring window features, no external-Row
  * ser/deser. Each expression replicates its streaming fold's double
  * arithmetic OPERATION FOR OPERATION (operand association included —
  * IEEE multiplication is not associative, so e.g. `α·(x−m)·(x−m)`
  * keeps the fold's left-to-right grouping), and WindowExec applies
  * updates one row at a time in window order, so the recursions are
  * bit-identical to the folds (kept in the test tree as
  * `SequentialKernelsReference`; SequentialKernelsSpec pins each pair).
  * NULL inputs leave every buffer unchanged and emit the current state
  * — the folds' `ewm(ignore_na=False)`-adjacent contract. */
object SeqKernelExprs {

  private[graft] def windowed(f: AggregateWindowFunction,
                              partitionBy: Seq[Column],
                              orderBy: Seq[Column]): Column = {
    val order = orderBy.map(GraftBridge.expression).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    GraftBridge.column(WindowExpression(f,
      WindowSpecDefinition(partitionBy.map(GraftBridge.expression),
        order, UnspecifiedFrame)))
  }
}

/** West's exponentially-weighted mean and variance (`adjust=False`):
  *   m_t = (1−α)·m_{t−1} + α·x_t
  *   v_t = (1−α)·(v_{t−1} + α·(x_t − m_{t−1})²)
  * seeded (m, v) = (x_0, 0). Emits struct(mean, var) — NULLs until the
  * first value. Replaces `SequentialKernelsReference.withEwmVarFold`. */
case class EwmVarExpr(x: Expression, alpha: Double) extends AggregateWindowFunction {
  require(alpha > 0 && alpha <= 1, "alpha must lie in (0, 1]")
  override def children: Seq[Expression] = Seq(x)
  override def prettyName: String = "graft_ewm_var"
  override def dataType: DataType = StructType(Seq(
    StructField("mean", DoubleType, nullable = true),
    StructField("var", DoubleType, nullable = true)))

  private lazy val m = AttributeReference("m", DoubleType)()
  private lazy val v = AttributeReference("v", DoubleType)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(m, v)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, DoubleType))
  override lazy val updateExpressions: Seq[Expression] = {
    val a = Literal(alpha); val oneA = Literal(1 - alpha)
    Seq(
      If(IsNull(x), m, If(IsNull(m), x,
        Add(Multiply(oneA, m), Multiply(a, x)))),
      // fold: v = (1−α)·(v0 + α·(x−m0)·(x−m0)) — left-assoc products
      If(IsNull(x), v, If(IsNull(m), Literal(0.0),
        Multiply(oneA, Add(v,
          Multiply(Multiply(a, Subtract(x, m)), Subtract(x, m)))))))
  }
  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("mean"), m, Literal("var"), v))
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(x = c.head)
}

/** Holt level/trend: level = EWMA(α) of the value, trend = EWMA(β) of
  * the first differences; trend is NULL until the second value. Emits
  * struct(level, trend). Replaces `SequentialKernelsReference.withHoltFold`. */
case class HoltExpr(x: Expression, alpha: Double, beta: Double)
  extends AggregateWindowFunction {
  require(alpha > 0 && alpha <= 1 && beta > 0 && beta <= 1,
    "alpha and beta must lie in (0, 1]")
  override def children: Seq[Expression] = Seq(x)
  override def prettyName: String = "graft_holt"
  override def dataType: DataType = StructType(Seq(
    StructField("level", DoubleType, nullable = true),
    StructField("trend", DoubleType, nullable = true)))

  private lazy val lvl = AttributeReference("lvl", DoubleType)()
  private lazy val tr = AttributeReference("tr", DoubleType)()
  private lazy val lastX = AttributeReference("lastX", DoubleType)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(lvl, tr, lastX)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, DoubleType), Literal(null, DoubleType))
  override lazy val updateExpressions: Seq[Expression] = {
    val a = Literal(alpha); val oneA = Literal(1 - alpha)
    val b = Literal(beta); val oneB = Literal(1 - beta)
    val d = Subtract(x, lastX)
    Seq(
      // nl = α·x + (1−α)·lvl ; seed = x
      If(IsNull(x), lvl, If(IsNull(lvl), x,
        Add(Multiply(a, x), Multiply(oneA, lvl)))),
      // nt: seed row keeps NULL; second value seeds the raw diff;
      // then β·d + (1−β)·tr
      If(IsNull(x), tr, If(IsNull(lvl), tr,
        If(IsNull(tr), d, Add(Multiply(b, d), Multiply(oneB, tr))))),
      If(IsNull(x), lastX, x))
  }
  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("level"), lvl, Literal("trend"), tr))
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(x = c.head)
}

/** Croston / SBA intermittent-demand forecast: size z and interval p
  * smooth with α on demand periods only; forecast = factor·z/p (factor
  * = 1 − α/2 for SBA, 1 otherwise), NULL until the first demand.
  * Replaces `SequentialKernelsReference.withCrostonFold`. */
case class CrostonExpr(x: Expression, alpha: Double, factor: Double)
  extends AggregateWindowFunction {
  require(alpha > 0 && alpha <= 1, "alpha must lie in (0, 1]")
  override def children: Seq[Expression] = Seq(x)
  override def prettyName: String = "graft_croston"
  override def dataType: DataType = DoubleType

  private lazy val z = AttributeReference("z", DoubleType)()
  private lazy val p = AttributeReference("p", DoubleType)()
  private lazy val gap = AttributeReference("gap", LongType)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(z, p, gap)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, DoubleType), Literal(0L))
  override lazy val updateExpressions: Seq[Expression] = {
    val a = Literal(alpha); val oneA = Literal(1 - alpha)
    val demand = GreaterThan(x, Literal(0.0))
    // fold: interval = (gap + 1).toDouble
    val interval = org.apache.spark.sql.catalyst.expressions.Cast(
      Add(gap, Literal(1L)), DoubleType)
    Seq(
      If(IsNull(x), z, If(demand,
        If(IsNull(z), x, Add(Multiply(a, x), Multiply(oneA, z))), z)),
      If(IsNull(x), p, If(demand,
        If(IsNull(z), Literal(1.0), Add(Multiply(a, interval), Multiply(oneA, p))), p)),
      If(IsNull(x), gap, If(demand, Literal(0L),
        If(IsNull(z), gap, Add(gap, Literal(1L))))))
  }
  // fold emits factor · z / p — left-assoc: (factor·z)/p
  override lazy val evaluateExpression: Expression =
    If(IsNull(z), Literal(null, DoubleType),
      Divide(Multiply(Literal(factor), z), p))
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(x = c.head)
}

/** TSB (Teunter–Syntetos–Babai): demand-probability b smooths with β
  * every period, size z with α on demand periods; forecast = b·z.
  * Replaces `SequentialKernelsReference.withTsbFold`. */
case class TsbExpr(x: Expression, alpha: Double, beta: Double)
  extends AggregateWindowFunction {
  require(alpha > 0 && alpha <= 1 && beta > 0 && beta <= 1,
    "alpha and beta must lie in (0, 1]")
  override def children: Seq[Expression] = Seq(x)
  override def prettyName: String = "graft_tsb"
  override def dataType: DataType = DoubleType

  private lazy val b = AttributeReference("b", DoubleType)()
  private lazy val z = AttributeReference("z", DoubleType)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(b, z)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, DoubleType))
  override lazy val updateExpressions: Seq[Expression] = {
    val a = Literal(alpha); val oneA = Literal(1 - alpha)
    val bb = Literal(beta); val oneB = Literal(1 - beta)
    val demand = GreaterThan(x, Literal(0.0))
    val ind = If(demand, Literal(1.0), Literal(0.0))
    Seq(
      If(IsNull(x), b, If(IsNull(b), ind,
        Add(Multiply(bb, ind), Multiply(oneB, b)))),
      If(IsNull(x), z, If(IsNull(b), If(demand, x, Literal(0.0)),
        If(demand, Add(Multiply(a, x), Multiply(oneA, z)), z))))
  }
  override lazy val evaluateExpression: Expression = Multiply(b, z)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(x = c.head)
}
