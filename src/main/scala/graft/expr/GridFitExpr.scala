package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-series conditional-least-squares GRID FIT — the one kernel of
  * the MA/ARMA fits in [[graft.seq.SequentialKernels]].
  *
  * The kernel is a streaming accumulator per kind ([[GridFitExpr.Acc]]):
  * `add(xc)` advances every grid member's innovation recursion by one
  * centred value in flat primitive state, and `winner` returns the
  * (sse, params…)-ascending winner as a struct. Two shapes feed it
  * cells ([[graft.seq.SequentialKernels.ArrayFitsConf]]): this
  * expression, one `eval` per SERIES row over the series' packed
  * (ord…, value)-sorted cell array (the value field at `vIdx`) and its
  * exact micro-int mean; and the streaming fold, which holds one
  * accumulator per series over the sorted rows. Both run the same
  * update loops, so both give the same bits.
  *
  * Why an expression and not higher-order functions: the interpreted
  * HOF form of the same fold was measured 5–10× SLOWER than the
  * compiled loop on the wide grids (ArProbe r18: ARMA(2,1) 1.2 → 6.5 s,
  * ARMA(2,2) 2.2 → 19.5 s at sf0.1 supplier grain — ~2 µs per
  * member·cell of lambda interpretation vs ~30 ns compiled). The
  * per-row CodegenFallback boundary is irrelevant at series grain.
  *
  * Skip rule: a cell contributes only when `value − μ` is non-NULL (a
  * NULL value, or the all-values-degenerate μ = NULL case, leaves the
  * state untouched). A NaN value with a non-NULL μ flows through as a
  * NaN innovation.
  *
  * Winner pick: lexicographic (sse, params…) minimum via
  * `java.lang.Double.compare` — NaN sorts largest and equals itself,
  * as a window `ORDER BY sse, params…` orders under Spark's NaN
  * semantics. (`Double.compare` orders −0.0 < 0.0 where Spark compares
  * them equal; SSE is a sum of squares, and a −0.0 grid param is
  * normalized to 0.0 in [[GridFitExpr.memberArray]], so the pick and
  * the reported winner never see −0.0.)
  *
  * SequentialKernelsSpec pins every kind, in both shapes, against the
  * streaming-fold reference kept in the test tree, bit for bit on an
  * adversarial frame.
  */
case class GridFitExpr(cells: Expression, mu: Expression, vIdx: Int,
                       kind: String, members: Seq[Seq[Double]])
  extends Expression with CodegenFallback {

  GridFitExpr.checkMembers(kind, members)

  override def prettyName: String = s"graft_grid_fit_$kind"
  override def children: Seq[Expression] = Seq(cells, mu)
  override def nullable: Boolean = false
  override def dataType: DataType = GridFitExpr.outType(kind)

  override def checkInputDataTypes(): TypeCheckResult = cells.dataType match {
    case ArrayType(st: StructType, _)
      if st.length > vIdx && st(vIdx).dataType == DoubleType &&
        mu.dataType == DoubleType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct<…, double@$vIdx>>, double), got " +
        s"(${cells.dataType.catalogString}, ${mu.dataType.catalogString})")
  }

  @transient private lazy val fresh: () => GridFitExpr.Acc =
    GridFitExpr.accumulatorOf(kind, members)
  @transient private lazy val cellWidth: Int =
    cells.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].length

  override def eval(input: InternalRow): Any = {
    val cd = cells.eval(input)
    val muV = mu.eval(input)
    GridFitExpr.compute(
      if (cd == null) null else cd.asInstanceOf[ArrayData],
      muV.asInstanceOf[java.lang.Double], vIdx, cellWidth, fresh())
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(cells = newChildren(0), mu = newChildren(1))
}

object GridFitExpr {

  private val Ma1 = 0
  private val Ma3 = 1
  private val Arma11 = 2
  private val Arma21 = 3
  private val Arma22 = 4

  private def kindId(kind: String): Int = kind match {
    case "ma1" => Ma1
    case "ma3" => Ma3
    case "arma11" => Arma11
    case "arma21" => Arma21
    case "arma22" => Arma22
    case other => throw new IllegalArgumentException(s"unknown grid-fit kind: $other")
  }

  private def d(name: String, nullable: Boolean = false) =
    StructField(name, DoubleType, nullable)

  /** Winner struct per kind: grid params first (the tie-break order),
    * then sse and the forecast-relevant state. */
  def outType(kind: String): StructType = kindId(kind) match {
    case Ma1 => StructType(Seq(d("theta"), d("sse"), d("e")))
    case Ma3 => StructType(Seq(d("theta1"), d("theta2"), d("theta3"),
      d("sse"), d("e"), d("ep"), d("epp")))
    case Arma11 => StructType(Seq(d("phi"), d("theta"), d("sse"), d("e"),
      d("xcn", nullable = true)))
    case Arma21 => StructType(Seq(d("phi1"), d("phi2"), d("theta"),
      d("sse"), d("e"), d("nsse"), d("xcn", nullable = true), d("xcp")))
    case Arma22 => StructType(Seq(d("phi1"), d("phi2"), d("theta1"),
      d("theta2"), d("sse"), d("e"), d("ep"), d("nsse"),
      d("xcn", nullable = true), d("xcp")))
  }

  private def checkMembers(kind: String, members: Seq[Seq[Double]]): Unit = {
    require(members.nonEmpty, "grid must be non-empty")
    require(members.forall(_.length == outType(kind).fieldIndex("sse")),
      s"every $kind grid member needs one value per parameter")
  }

  def column(cells: Column, mu: Column, vIdx: Int, kind: String,
             members: Seq[Seq[Double]]): Column =
    GraftBridge.column(GridFitExpr(GraftBridge.expression(cells),
      GraftBridge.expression(mu), vIdx, kind, members))

  /** The grid as flat arrays, a −0.0 param normalized to 0.0. */
  private def memberArray(members: Seq[Seq[Double]]): Array[Array[Double]] =
    members.map(_.map(v => if (v == 0.0) 0.0 else v).toArray).toArray

  /** A factory of fresh accumulators of grid `kind` over `members`,
    * serializable into a task closure. */
  def accumulatorOf(kind: String, members: Seq[Seq[Double]]): () => Acc = {
    checkMembers(kind, members)
    val id = kindId(kind)
    val m = memberArray(members)
    () => id match {
      case Ma1 => new Ma1Acc(m)
      case Ma3 => new Ma3Acc(m)
      case Arma11 => new Arma11Acc(m)
      case Arma21 => new Arma21Acc(m)
      case Arma22 => new Arma22Acc(m)
    }
  }

  /** Feeds the packed cells to `acc`: each non-NULL value, centred on
    * `mu`, in array order. `mu == null` (degenerate all-skip series) and
    * NULL cell values leave the state at its zeros. */
  private def compute(cells: ArrayData, mu: java.lang.Double, vIdx: Int,
                      cellWidth: Int, acc: Acc): InternalRow = {
    if (cells != null && mu != null) {
      val muV = mu.doubleValue()
      val n = cells.numElements()
      var r = 0
      while (r < n) {
        val row = cells.getStruct(r, cellWidth)
        if (!row.isNullAt(vIdx)) acc.add(row.getDouble(vIdx) - muV)
        r += 1
      }
    }
    acc.winner
  }

  /** Streaming CLS state of one series over every grid member: `add`
    * each non-NULL centred value in series order (it allocates
    * nothing), then read the `winner`. Every innovation starts at 0 and
    * every SSE at 0. */
  sealed abstract class Acc(protected val m: Array[Array[Double]]) {
    protected val nM: Int = m.length
    protected val sse = new Array[Double](nM)
    def add(xc: Double): Unit
    def winner: InternalRow
    /** Lexicographic (sse, params…) argmin over the members — strict
      * improvement keeps the earlier member, and distinct members
      * cannot tie on the full tuple, so scan order is free. */
    protected def best: Int = {
      var b = 0
      var i = 1
      while (i < nM) {
        var c = java.lang.Double.compare(sse(i), sse(b))
        var f = 0
        while (c == 0 && f < m(i).length) {
          c = java.lang.Double.compare(m(i)(f), m(b)(f))
          f += 1
        }
        if (c < 0) b = i
        i += 1
      }
      b
    }
    protected def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)
  }

  /** MA(1): ε' = xc − θ·ε. */
  private final class Ma1Acc(m0: Array[Array[Double]]) extends Acc(m0) {
    private val e = new Array[Double](nM)
    def add(xc: Double): Unit = {
      val m = this.m; val e = this.e; val sse = this.sse
      var i = 0
      while (i < nM) {
        val ne = xc - m(i)(0) * e(i)
        e(i) = ne
        sse(i) += ne * ne
        i += 1
      }
    }
    def winner: InternalRow = { val b = best; row(m(b)(0), sse(b), e(b)) }
  }

  /** MA(3): ε' = xc − θ₁·ε − θ₂·ε₋₁ − θ₃·ε₋₂, the ε memory shifting. */
  private final class Ma3Acc(m0: Array[Array[Double]]) extends Acc(m0) {
    private val e = new Array[Double](nM)
    private val ep = new Array[Double](nM)
    private val epp = new Array[Double](nM)
    def add(xc: Double): Unit = {
      val e = this.e; val ep = this.ep; val epp = this.epp; val sse = this.sse
      var i = 0
      while (i < nM) {
        val mi = m(i)
        val ne = xc - mi(0) * e(i) - mi(1) * ep(i) - mi(2) * epp(i)
        epp(i) = ep(i)
        ep(i) = e(i)
        e(i) = ne
        sse(i) += ne * ne
        i += 1
      }
    }
    def winner: InternalRow = {
      val b = best
      row(m(b)(0), m(b)(1), m(b)(2), sse(b), e(b), ep(b), epp(b))
    }
  }

  /** ARMA(1,1): the first value only seeds xcₚ (ε₁ = 0, no SSE term);
    * each later one applies ε' = xc − φ·xcₚ − θ·ε. xc_last is NULL
    * until a value arrives. */
  private final class Arma11Acc(m0: Array[Array[Double]]) extends Acc(m0) {
    private val e = new Array[Double](nM)
    private var xp = 0.0
    private var seen = false
    def add(xc: Double): Unit = {
      if (!seen) seen = true
      else {
        val m = this.m; val e = this.e; val sse = this.sse; val p = xp
        var i = 0
        while (i < nM) {
          val mi = m(i)
          val ne = xc - mi(0) * p - mi(1) * e(i)
          e(i) = ne
          sse(i) += ne * ne
          i += 1
        }
      }
      xp = xc
    }
    def winner: InternalRow = {
      val b = best
      row(m(b)(0), m(b)(1), sse(b), e(b), if (seen) xp else null)
    }
  }

  /** State shared by the p = 2 kinds: the first TWO values only shift
    * the xc memory (the two-row conditioning); `nSse` counts the SSE
    * terms. xc₁ reports NULL until a value arrives, xc₂ starts 0.0. */
  private sealed abstract class Ar2Acc(m0: Array[Array[Double]]) extends Acc(m0) {
    protected var xp1 = 0.0
    protected var xp2 = 0.0
    protected var nObs = 0.0
    protected var nSse = 0.0
    protected def update(xc: Double, p1: Double, p2: Double): Unit
    def add(xc: Double): Unit = {
      if (nObs == 0.0) { xp1 = xc; nObs = 1 }
      else if (nObs == 1.0) { xp2 = xp1; xp1 = xc; nObs = 2 }
      else {
        update(xc, xp1, xp2)
        xp2 = xp1; xp1 = xc; nObs += 1; nSse += 1
      }
    }
    protected def xcn: Any = if (nObs > 0.0) xp1 else null
  }

  /** ARMA(2,1): ε' = xc − φ₁·xc₁ − φ₂·xc₂ − θ·ε. */
  private final class Arma21Acc(m0: Array[Array[Double]]) extends Ar2Acc(m0) {
    private val e = new Array[Double](nM)
    protected def update(xc: Double, p1: Double, p2: Double): Unit = {
      val m = this.m; val e = this.e; val sse = this.sse
      var i = 0
      while (i < nM) {
        val mi = m(i)
        val ne = xc - mi(0) * p1 - mi(1) * p2 - mi(2) * e(i)
        e(i) = ne
        sse(i) += ne * ne
        i += 1
      }
    }
    def winner: InternalRow = {
      val b = best
      row(m(b)(0), m(b)(1), m(b)(2), sse(b), e(b), nSse, xcn, xp2)
    }
  }

  /** ARMA(2,2): ε' = xc − φ₁·xc₁ − φ₂·xc₂ − θ₁·ε − θ₂·ε₋₁. */
  private final class Arma22Acc(m0: Array[Array[Double]]) extends Ar2Acc(m0) {
    private val e = new Array[Double](nM)
    private val ep = new Array[Double](nM)
    protected def update(xc: Double, p1: Double, p2: Double): Unit = {
      val m = this.m; val e = this.e; val ep = this.ep; val sse = this.sse
      var i = 0
      while (i < nM) {
        val mi = m(i)
        val ne = xc - mi(0) * p1 - mi(1) * p2 - mi(2) * e(i) - mi(3) * ep(i)
        ep(i) = e(i)
        e(i) = ne
        sse(i) += ne * ne
        i += 1
      }
    }
    def winner: InternalRow = {
      val b = best
      row(m(b)(0), m(b)(1), m(b)(2), m(b)(3), sse(b), e(b), ep(b), nSse, xcn, xp2)
    }
  }
}
