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

/** Per-series conditional-least-squares GRID FIT over a packed cell
  * array — the compiled kernel of the array-form MA/ARMA fits
  * ([[graft.seq.SequentialKernels.ArrayFitsConf]]).
  *
  * Input: the series' (ord…, value)-sorted cell struct array (the value
  * field at `vIdx`) and the exact micro-int series mean. One `eval` per
  * SERIES row runs every grid member's innovation recursion over the
  * cells in plain compiled JVM arithmetic — the exact update loops of
  * the streaming-fold twins in `SequentialKernels` (same flat primitive
  * state, same operand association) — and returns the
  * (sse, params…)-ascending winner as a struct.
  *
  * Why an expression and not higher-order functions: the interpreted
  * HOF form of the same fold was measured 5–10× SLOWER than the
  * streaming fold on the wide grids (ArProbe r18: ARMA(2,1) 1.2 → 6.5 s,
  * ARMA(2,2) 2.2 → 19.5 s at sf0.1 supplier grain — ~2 µs per
  * member·cell of lambda interpretation vs ~30 ns compiled). This
  * kernel keeps the array form's two-exchange plan AND the fold's
  * per-cell cost; the per-row CodegenFallback boundary is irrelevant at
  * series grain.
  *
  * Skip rule: a cell contributes only when `value − μ` is non-NULL —
  * exactly the fold twins' `case (None, st) => st` over the centered
  * column (a NULL value, or the all-values-degenerate μ = NULL case,
  * leaves the state untouched). A NaN value with a non-NULL μ flows
  * through as a NaN innovation in both forms.
  *
  * Winner pick: lexicographic (sse, params…) minimum via
  * `java.lang.Double.compare` — NaN sorts largest and equals itself,
  * matching the fold form's window `ORDER BY sse, params…` under
  * Spark's NaN semantics. (`Double.compare` orders −0.0 < 0.0 where
  * Spark compares them equal; SSE is a sum of squares, and a −0.0 grid
  * param is normalized to 0.0 in `memberArr`, so the pick and the
  * reported winner never see −0.0.)
  *
  * SequentialKernelsSpec pins every kind against its fold twin
  * bit-for-bit on an adversarial frame.
  */
case class GridFitExpr(cells: Expression, mu: Expression, vIdx: Int,
                       kind: String, members: Seq[Seq[Double]])
  extends Expression with CodegenFallback {

  require(members.nonEmpty, "grid must be non-empty")
  require(members.forall(_.length == GridFitExpr.outType(kind).fieldIndex("sse")),
    s"every $kind grid member needs one value per parameter")

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

  @transient private lazy val memberArr: Array[Array[Double]] =
    members.map(_.map(v => if (v == 0.0) 0.0 else v).toArray).toArray
  @transient private lazy val kindId: Int = GridFitExpr.kindId(kind)
  @transient private lazy val cellWidth: Int =
    cells.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].length

  override def eval(input: InternalRow): Any = {
    val cd = cells.eval(input)
    val muV = mu.eval(input)
    GridFitExpr.compute(
      if (cd == null) null else cd.asInstanceOf[ArrayData],
      muV.asInstanceOf[java.lang.Double], vIdx, cellWidth, kindId, memberArr)
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

  def column(cells: Column, mu: Column, vIdx: Int, kind: String,
             members: Seq[Seq[Double]]): Column =
    GraftBridge.column(GridFitExpr(GraftBridge.expression(cells),
      GraftBridge.expression(mu), vIdx, kind, members))

  /** Lexicographic (sse, params…) argmin over the member states —
    * strict improvement keeps the earlier member, and distinct members
    * cannot tie on the full tuple, so scan order is free. */
  private def pick(memberArr: Array[Array[Double]], sses: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < memberArr.length) {
      var c = java.lang.Double.compare(sses(i), sses(best))
      var f = 0
      while (c == 0 && f < memberArr(i).length) {
        c = java.lang.Double.compare(memberArr(i)(f), memberArr(best)(f))
        f += 1
      }
      if (c < 0) best = i
      i += 1
    }
    best
  }

  /** One compiled pass: the fold twins' update loops over the cells,
    * then the winner pick. `mu == null` (degenerate all-skip series)
    * and NULL cell values leave the state at its zeros — the fold's
    * absent-state `finish`. */
  def compute(cells: ArrayData, mu: java.lang.Double, vIdx: Int,
              cellWidth: Int, kindId: Int,
              memberArr: Array[Array[Double]]): InternalRow = {
    val nM = memberArr.length
    val n = if (cells == null || mu == null) 0 else cells.numElements()
    val muV = if (mu == null) 0.0 else mu.doubleValue()
    kindId match {
      case Ma1 =>
        val e = new Array[Double](nM)
        val sse = new Array[Double](nM)
        var r = 0
        while (r < n) {
          val row = cells.getStruct(r, cellWidth)
          if (!row.isNullAt(vIdx)) {
            val xc = row.getDouble(vIdx) - muV
            var i = 0
            while (i < nM) {
              val ne = xc - memberArr(i)(0) * e(i)
              e(i) = ne
              sse(i) += ne * ne
              i += 1
            }
          }
          r += 1
        }
        val b = pick(memberArr, sse)
        new GenericInternalRow(Array[Any](memberArr(b)(0), sse(b), e(b)))
      case Ma3 =>
        val e = new Array[Double](nM)
        val ep = new Array[Double](nM)
        val epp = new Array[Double](nM)
        val sse = new Array[Double](nM)
        var r = 0
        while (r < n) {
          val row = cells.getStruct(r, cellWidth)
          if (!row.isNullAt(vIdx)) {
            val xc = row.getDouble(vIdx) - muV
            var i = 0
            while (i < nM) {
              val m = memberArr(i)
              val ne = xc - m(0) * e(i) - m(1) * ep(i) - m(2) * epp(i)
              epp(i) = ep(i)
              ep(i) = e(i)
              e(i) = ne
              sse(i) += ne * ne
              i += 1
            }
          }
          r += 1
        }
        val b = pick(memberArr, sse)
        new GenericInternalRow(Array[Any](memberArr(b)(0), memberArr(b)(1),
          memberArr(b)(2), sse(b), e(b), ep(b), epp(b)))
      case Arma11 =>
        val e = new Array[Double](nM)
        val sse = new Array[Double](nM)
        var xp = 0.0
        var seen = false
        var r = 0
        while (r < n) {
          val row = cells.getStruct(r, cellWidth)
          if (!row.isNullAt(vIdx)) {
            val xc = row.getDouble(vIdx) - muV
            if (!seen) { seen = true } else {
              var i = 0
              while (i < nM) {
                val m = memberArr(i)
                val ne = xc - m(0) * xp - m(1) * e(i)
                e(i) = ne
                sse(i) += ne * ne
                i += 1
              }
            }
            xp = xc
          }
          r += 1
        }
        val b = pick(memberArr, sse)
        new GenericInternalRow(Array[Any](memberArr(b)(0), memberArr(b)(1),
          sse(b), e(b), if (seen) xp else null))
      case Arma21 =>
        val e = new Array[Double](nM)
        val sse = new Array[Double](nM)
        var xp1 = 0.0
        var xp2 = 0.0
        var nObs = 0.0
        var nSse = 0.0
        var r = 0
        while (r < n) {
          val row = cells.getStruct(r, cellWidth)
          if (!row.isNullAt(vIdx)) {
            val xc = row.getDouble(vIdx) - muV
            if (nObs == 0.0) { xp1 = xc; nObs = 1 }
            else if (nObs == 1.0) { xp2 = xp1; xp1 = xc; nObs = 2 }
            else {
              val p1 = xp1; val p2 = xp2
              var i = 0
              while (i < nM) {
                val m = memberArr(i)
                val ne = xc - m(0) * p1 - m(1) * p2 - m(2) * e(i)
                e(i) = ne
                sse(i) += ne * ne
                i += 1
              }
              xp2 = xp1; xp1 = xc; nObs += 1; nSse += 1
            }
          }
          r += 1
        }
        val b = pick(memberArr, sse)
        new GenericInternalRow(Array[Any](memberArr(b)(0), memberArr(b)(1),
          memberArr(b)(2), sse(b), e(b), nSse,
          if (nObs > 0.0) xp1 else null, xp2))
      case Arma22 =>
        val e = new Array[Double](nM)
        val ep = new Array[Double](nM)
        val sse = new Array[Double](nM)
        var xp1 = 0.0
        var xp2 = 0.0
        var nObs = 0.0
        var nSse = 0.0
        var r = 0
        while (r < n) {
          val row = cells.getStruct(r, cellWidth)
          if (!row.isNullAt(vIdx)) {
            val xc = row.getDouble(vIdx) - muV
            if (nObs == 0.0) { xp1 = xc; nObs = 1 }
            else if (nObs == 1.0) { xp2 = xp1; xp1 = xc; nObs = 2 }
            else {
              val p1 = xp1; val p2 = xp2
              var i = 0
              while (i < nM) {
                val m = memberArr(i)
                val ne = xc - m(0) * p1 - m(1) * p2 - m(2) * e(i) - m(3) * ep(i)
                ep(i) = e(i)
                e(i) = ne
                sse(i) += ne * ne
                i += 1
              }
              xp2 = xp1; xp1 = xc; nObs += 1; nSse += 1
            }
          }
          r += 1
        }
        val b = pick(memberArr, sse)
        new GenericInternalRow(Array[Any](memberArr(b)(0), memberArr(b)(1),
          memberArr(b)(2), memberArr(b)(3), sse(b), e(b), ep(b), nSse,
          if (nObs > 0.0) xp1 else null, xp2))
    }
  }
}
