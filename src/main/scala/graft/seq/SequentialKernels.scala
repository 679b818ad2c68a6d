package graft.seq

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequential per-series recursions that frame-based window functions
  * cannot express: EWMA, Holt level/trend, Croston/SBA/TSB intermittent
  * forecasters (SURVEY W9/W10/M5 — reference:
  * src/features/temporal_features_engine.py:243-276 `ewm(adjust=False)`,
  * src/models/intermittent_demand.py:44-175).
  *
  * Execution shapes. EWMA, EWM mean/variance, Holt, Croston/SBA and
  * TSB are native running window aggregates
  * ([[graft.expr.SeqKernelExprs]], [[graft.expr.EwmaExpr]]): Catalyst
  * prunes them when a consumer drops their columns, and they share the
  * series exchange and sort with neighboring window features. The
  * MA/ARMA grid fits run one kernel per kind
  * ([[graft.expr.GridFitExpr]]) fed in one of two ways
  * ([[ArrayFitsConf]]). Holt-Winters, CUSUM and the MA(1) filter run
  * [[keyedFold]]: ONE hash shuffle on the series key, a sort within
  * partitions by (key, order), then a streaming fold over the sorted
  * iterator detecting key-run boundaries. Neither shape materializes a
  * whole group in memory (unlike `groupByKey.flatMapGroups`), so a
  * pathological million-row series streams instead of OOMing.
  *
  * Null values leave the state unchanged and emit the current state
  * (pandas `ewm(ignore_na=False)`-adjacent; exact NaN weighting of
  * pandas is not reproduced — documented divergence).
  */
object SequentialKernels {

  /** Session conf selecting how the grid fits feed cells to their one
    * kernel ([[graft.expr.GridFitExpr]]; r18, the
    * QuantileReg.SinglePassConf pattern). `true` (the unset default):
    * each series' values pack into ONE sorted array inside the hash
    * aggregate that computes the exact micro-int mean, and the kernel
    * runs as an expression in one projection, one call per series —
    * two exchanges and no boxed-Row pass. `false`: the series streams
    * through [[keyedFoldLast]] with one kernel accumulator per series
    * as the fold state, so no series is ever packed whole — the
    * recovery shape for a series whose value array cannot fit one
    * task (the fits' series are calendar-bounded weekly grains, so
    * that regime is not expected even at 100 TB). It costs the mean
    * aggregate, the mean join and the fold's repartition and sort.
    * Both shapes run the same update loops and the same winner pick,
    * so they agree bit for bit (SequentialKernelsSpec pins both
    * against the streaming-fold reference in the test tree).
    *
    * Constraints on both shapes (all in-repo callers satisfy them):
    * `ordCols` must be plain ascending orderable columns, unique per
    * series — the cells sort by struct order exactly as the fold sorts
    * within partitions. */
  val ArrayFitsConf = "spark.graft.arrayFits"

  /** Read from the input frame's own session when the fit is built:
    * setting the conf after building the DataFrame has no effect. */
  private[seq] def arrayFits(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ArrayFitsConf, "true").toBoolean

  /** Shared packed-series stage of the array-form grid fits: one
    * [[SeriesTail]] aggregate per series yields the row count, the
    * exact micro-int mean (the centeredOnMu convention — NULL values
    * still count in the divisor), the (ordCols…)-sorted (ord…, value)
    * struct array and the `tail` columns. Null-key rows drop first: the
    * streaming shape's centeredOnMu INNER join can never match them, so
    * the packed shape must not emit their group. */
  private def packedSeries(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                           valueCol: String, tail: Seq[Column]): DataFrame =
    SeriesTail.of(df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _)), keyCols,
      Seq(graft.functions.Funcs.microMean(col(valueCol)).as("__mu"),
        cellsOf(ordCols, valueCol).as("__cells")) ++ tail)

  /** The series' (ord…, value) cells sorted by `ordCols`, as an
    * aggregate: the packed input of [[graft.expr.GridFitExpr]], its
    * value at index `ordCols.size`. `fed` may NULL a row's cell to leave
    * it out. */
  private[seq] def cellsOf(ordCols: Seq[Column], valueCol: String,
                           fed: Column => Column = c => c): Column =
    sort_array(collect_list(fed(struct(
      ordCols.zipWithIndex.map { case (o, i) => o.as(s"__o$i") } :+
        col(valueCol).cast("double").as("__v"): _*))))

  /** The grid fit of `kind` over `members` ([[graft.expr.GridFitExpr]])
    * per series: keys…, the fed row count [[SeriesTail.Count]], `__mu`
    * (the exact micro-int series mean), the `tail` columns (aggregates
    * over the fed rows, [[SeriesTail]]) and the `__best` winner struct,
    * all from the fit's one per-series aggregate, with the cells fed as
    * [[ArrayFitsConf]] selects. Packed: the kernel runs as an expression
    * over each series' cell array; `__best` materializes in its own projection
    * (CollapseProject keeps multi-referenced non-cheap aliases), so the
    * caller's field extraction never re-runs the fit. Streaming: the
    * mean-centred rows fold into one accumulator per series, whose
    * winner fields are re-packed as `__best` — no explode, no pick
    * window. */
  private[seq] def gridFit(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                           valueCol: String, kind: String, members: Seq[Seq[Double]],
                           tail: Seq[Column] = Nil): DataFrame =
    if (arrayFits(df))
      packedSeries(df, keyCols, ordCols, valueCol, tail)
        .withColumn("__best", graft.expr.GridFitExpr.column(
          col("__cells"), col("__mu"), vIdx = ordCols.size, kind, members))
        .drop("__cells")
    else {
      val fields = graft.expr.GridFitExpr.outType(kind).fieldNames.toSeq
      val fresh = graft.expr.GridFitExpr.accumulatorOf(kind, members)
      val centered = centeredOnMu(df, keyCols, valueCol, tail)
      // the aggregate's columns, which every row of a series carries
      val perSeries = centered.columns.filterNot((df.columns :+ "__xc").contains)
      keyedFoldLast[graft.expr.GridFitExpr.Acc](centered,
        keyCols, ordCols, "__xc", fields.map("__b_" + _)) {
        case (None, st) => st
        case (Some(xc), st) =>
          val s = if (st.isEmpty) Some(fresh()) else st
          s.get.add(xc)
          s
      } { st =>
        val w = st.getOrElse(fresh()).winner
        fields.indices.map(i => if (w.isNullAt(i)) None else Some(w.getDouble(i)))
      }.select((keyCols ++ perSeries).map(col) :+
        struct(fields.map(f => col(s"__b_$f").as(f)): _*).as("__best"): _*)
    }

  /** Default CLS grids: θ of MA(1); φ (φ₁ of the p = 2 fits); θ of
    * ARMA(1,1), every θ of MA(3) and θ₁ of the q ≥ 1 p = 2 fits; and φ₂
    * and θ₂ of the p = 2 fits. */
  private[seq] val Ma1Grid = Seq(-0.8, -0.4, 0.0, 0.4, 0.8)
  private[seq] val PhiGrid = Seq(-0.5, 0.0, 0.5, 0.9)
  private[seq] val ThetaGrid = Seq(-0.4, 0.0, 0.4)
  private[seq] val Lag2Grid = Seq(-0.3, 0.0, 0.3)

  /** The default-grid MA(1) and ARMA(1,1) winners over a series' packed
    * [[cellsOf]] cells and exact mean, as the champion family fits them. */
  private[seq] def ma1Winner(cells: Column, mu: Column, nOrd: Int): Column =
    graft.expr.GridFitExpr.column(cells, mu, nOrd, "ma1", Ma1Grid.map(Seq(_)))

  private[seq] def arma11Winner(cells: Column, mu: Column, nOrd: Int): Column =
    graft.expr.GridFitExpr.column(cells, mu, nOrd, "arma11", arma11Pairs(
      PhiGrid, ThetaGrid))

  private[seq] def arma11Pairs(phiGrid: Seq[Double], thetaGrid: Seq[Double]): Seq[Seq[Double]] =
    for (p <- phiGrid; t <- thetaGrid) yield Seq(p, t)

  /** [[fitMa1Full]]'s columns from a winner struct `b` and the series
    * mean `mu`. */
  private[seq] def ma1Cols(b: Column, mu: Column): Seq[Column] =
    Seq(b.getField("theta").as("ma1_theta"),
      graft.functions.Funcs.r(b.getField("sse")).as("ma1_sse"),
      mu.as("ma1_mu"), b.getField("e").as("ma1_eps_last"))

  /** [[fitArma11Full]]'s columns from a winner struct `b` and the series
    * mean `mu`. */
  private[seq] def arma11Cols(b: Column, mu: Column): Seq[Column] =
    Seq(b.getField("phi").as("arma_phi"), b.getField("theta").as("arma_theta"),
      graft.functions.Funcs.r(b.getField("sse")).as("arma_sse"),
      mu.as("arma_mu"), b.getField("e").as("arma_eps_last"),
      b.getField("xcn").as("arma_xc_last"))

  /** [[fitMa3Full]]'s columns from a winner struct `b` and the series
    * mean `mu`. */
  private def ma3Cols(b: Column, mu: Column): Seq[Column] =
    Seq(b.getField("theta1").as("ma3_theta1"), b.getField("theta2").as("ma3_theta2"),
      b.getField("theta3").as("ma3_theta3"),
      graft.functions.Funcs.r(b.getField("sse")).as("ma3_sse"),
      mu.as("ma3_mu"), b.getField("e").as("ma3_eps_last"),
      b.getField("ep").as("ma3_eps_prev"), b.getField("epp").as("ma3_eps_prev2"))

  /** [[fitArma21Full]]'s columns from a winner struct `b` and the series
    * mean `mu`. */
  private def arma21Cols(b: Column, mu: Column): Seq[Column] =
    Seq(b.getField("phi1").as("arma2_phi1"), b.getField("phi2").as("arma2_phi2"),
      b.getField("theta").as("arma2_theta"),
      graft.functions.Funcs.r(b.getField("sse")).as("arma2_sse"),
      b.getField("nsse").as("arma2_neff"), mu.as("arma2_mu"),
      b.getField("e").as("arma2_eps_last"), b.getField("xcn").as("arma2_xc_last"),
      b.getField("xcp").as("arma2_xc_prev"))

  /** [[fitArma22Full]]'s columns from a winner struct `b` and the series
    * mean `mu`. */
  private def arma22Cols(b: Column, mu: Column): Seq[Column] =
    Seq(b.getField("phi1").as("arma22_phi1"), b.getField("phi2").as("arma22_phi2"),
      b.getField("theta1").as("arma22_theta1"), b.getField("theta2").as("arma22_theta2"),
      graft.functions.Funcs.r(b.getField("sse")).as("arma22_sse"),
      b.getField("nsse").as("arma22_neff"), mu.as("arma22_mu"),
      b.getField("e").as("arma22_eps_last"), b.getField("ep").as("arma22_eps_prev"),
      b.getField("xcn").as("arma22_xc_last"), b.getField("xcp").as("arma22_xc_prev"))

  /** The h rounded steps of a mean-centred ARMA(p ≤ 2, q ≤ 3) forecast,
    * future innovations zero:
    *
    *   f_s = r( μ + Σᵢ φᵢ·z_{s−i} + Σ_{j≥s} θⱼ·ε_{n+s−j} )
    *
    * with z_k = f_k − μ for k ≥ 1 and the stored centred level for
    * k ≤ 0 (`xcs` = z_0, z_{−1}, …; `eps` = ε_n, ε_{n−1}, …). The AR
    * terms add first, then the MA terms, each in index order, and each
    * step is rounded before it feeds forward, so a recursive-CTE
    * oracle replays the identical chain. */
  private[seq] def armaSteps(mu: Column, phis: Seq[Column], thetas: Seq[Column],
                             xcs: Seq[Column], eps: Seq[Column], h: Int): Seq[Column] =
    (1 to h).foldLeft(Vector.empty[Column]) { (f, s) =>
      val ar = phis.zipWithIndex.map { case (phi, i) =>
        val k = s - i - 1
        phi * (if (k >= 1) f(k - 1) - mu else xcs(-k))
      }
      val ma = thetas.zipWithIndex.collect { case (th, j) if j + 1 >= s => th * eps(j + 1 - s) }
      f :+ graft.functions.Funcs.r((ar ++ ma).foldLeft(mu)(_ + _))
    }

  /** One row per (series, step): `base`'s columns `cols`, then the
    * forecast `steps` exploded as (step, `outCol`), step counting from 1. */
  private[seq] def stepRows(base: DataFrame, cols: Seq[String], steps: Seq[Column],
                            outCol: String): DataFrame =
    base.select(cols.map(col) :+ posexplode(array(steps: _*)).as(Seq("__p", outCol)): _*)
      .withColumn("step", (col("__p") + 1).cast("long"))
      .select((cols :+ "step" :+ outCol).map(col): _*)

  /** Typed primitive extraction of a fold's value column, resolved once
    * from the schema — the folds run once per fact row, so a per-row
    * toString/parse would be a measurable constant-factor tax at
    * scale. `fold` names the calling fold in the error. */
  private def numericValue(schema: StructType, valIdx: Int, valueCol: String,
                           fold: String): Row => Double =
    schema(valIdx).dataType match {
      case DoubleType => _.getDouble(valIdx)
      case FloatType => _.getFloat(valIdx).toDouble
      case LongType => _.getLong(valIdx).toDouble
      case IntegerType => _.getInt(valIdx).toDouble
      case ShortType => _.getShort(valIdx).toDouble
      case ByteType => _.getByte(valIdx).toDouble
      case dt: DecimalType => _.getDecimal(valIdx).doubleValue()
      case dt => throw new IllegalArgumentException(
        s"$fold value column '$valueCol' must be numeric, got $dt")
    }

  /** Generic keyed streaming fold: emits input row + extra double
    * columns computed by `step`, which receives the row's value and the
    * per-series state (None at series start) and returns (outputs,
    * newState). */
  private[graft] def keyedFold[S](df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                                  valueCol: String, outCols: Seq[String])(
                                  step: (Option[Double], Option[S]) => (Seq[Option[Double]], Option[S])): DataFrame = {
    val outSchema = StructType(df.schema.fields ++
      outCols.map(c => StructField(c, DoubleType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val valIdx = df.schema.fieldIndex(valueCol)
    val getValue = numericValue(df.schema, valIdx, valueCol, "keyedFold")
    df.repartition(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col) ++ ordCols: _*)
      .mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var state: Option[S] = None
        rows.map { row =>
          val k = keyIdx.map(row.get)
          if (k != curKey) { curKey = k; state = None }
          val v = if (row.isNullAt(valIdx)) None else Some(getValue(row))
          val (outs, ns) = step(v, state)
          state = ns
          Row.fromSeq(row.toSeq ++ outs.map(_.orNull))
        }
      }(enc)
  }

  /** Series-end fold: like [[keyedFold]] but emits ONE row per series —
    * the run's LAST input row (by the fold's sort order) with
    * `finish(state)` appended — instead of a wide output row per input
    * row. This is the right shape for grid FITS, where only the
    * series-end state matters: the per-input-row form pays a boxed
    * `2·|grid|`-column Row per fact row plus a full descending sort
    * just to keep the last row (measured 3-7s per query on the wider
    * grids); this form updates a primitive state in place and writes
    * |series| rows total, no window. `step` mutates/returns the state;
    * `finish` converts the final state to the output columns. */
  private[graft] def keyedFoldLast[S](df: DataFrame, keyCols: Seq[String],
                                      ordCols: Seq[Column], valueCol: String,
                                      outCols: Seq[String])(
                                      step: (Option[Double], Option[S]) => Option[S])(
                                      finish: Option[S] => Seq[Option[Double]]): DataFrame = {
    val outSchema = StructType(df.schema.fields ++
      outCols.map(c => StructField(c, DoubleType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val valIdx = df.schema.fieldIndex(valueCol)
    val getValue = numericValue(df.schema, valIdx, valueCol, "keyedFoldLast")
    df.repartition(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col) ++ ordCols: _*)
      .mapPartitions { rows =>
        new Iterator[Row] {
          private var curKey: Seq[Any] = null
          private var state: Option[S] = None
          private var lastRow: Row = null
          private var pending: Row = null
          private def emit(): Row =
            Row.fromSeq(lastRow.toSeq ++ finish(state).map(_.orNull))
          private def advance(): Unit = {
            while (pending == null && rows.hasNext) {
              val row = rows.next()
              val k = keyIdx.map(row.get)
              if (curKey != null && k != curKey) {
                pending = emit()
                state = None
              }
              curKey = k
              val v = if (row.isNullAt(valIdx)) None else Some(getValue(row))
              state = step(v, state)
              lastRow = row
            }
            if (pending == null && lastRow != null) {
              pending = emit()
              lastRow = null; curKey = null; state = None
            }
          }
          def hasNext: Boolean = { advance(); pending != null }
          def next(): Row = {
            advance()
            if (pending == null) throw new NoSuchElementException("empty fold")
            val r = pending; pending = null; r
          }
        }
      }(enc)
  }

  /** W9 — EWMA with pandas `adjust=False` recursion:
    * y_0 = x_0; y_t = α·x_t + (1−α)·y_{t−1}.
    *
    * Execution shape: a native running window aggregate
    * ([[graft.expr.EwmaExpr]]). The kernel is PRUNABLE (a consumer that
    * drops the column prunes the recursion: FeatureStore.wide's q110
    * projection), and it shares the series exchange and sort with
    * neighboring window features; ENSURE_REQUIREMENTS reuses an
    * existing hash partitioning on `keyCols`. SequentialKernelsSpec
    * pins it row for row to the streaming-fold form kept in the test
    * tree (`SequentialKernelsReference.withEwmaFold`). */
  def withEwma(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
               valueCol: String, alpha: Double, outCol: String): DataFrame =
    df.withColumn(outCol,
      graft.expr.EwmaExpr.over(col(valueCol), alpha, keyCols.map(col), ordCols))

  /** W9+ — exponentially-weighted mean AND variance (West's online
    * recursion, the `adjust=False` form):
    *   m_t = (1−α)·m_{t−1} + α·x_t
    *   v_t = (1−α)·(v_{t−1} + α·(x_t − m_{t−1})²)
    * — the streaming volatility tracker (risk bands, anomaly
    * thresholds) that a rolling-window std approximates with a cliff.
    * A two-double-state running window aggregate like [[withEwma]];
    * oracle-backed by a recursive CTE (q209). */
  def withEwmVar(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                 valueCol: String, alpha: Double,
                 meanCol: String = "ewm_mean", varCol: String = "ewm_var"): DataFrame = {
    // native running window aggregate (see withEwma) — prunable,
    // exchange-sharing, no Row ser/deser; bit-identical to
    // SequentialKernelsReference.withEwmVarFold (SequentialKernelsSpec)
    val st = graft.expr.SeqKernelExprs.windowed(
      graft.expr.EwmVarExpr(
        org.apache.spark.sql.GraftBridge.expression(col(valueCol).cast("double")), alpha),
      keyCols.map(col), ordCols)
    df.withColumn("__ewmvar", st)
      .withColumn(meanCol, col("__ewmvar.mean"))
      .withColumn(varCol, col("__ewmvar.var"))
      .drop("__ewmvar")
  }

  /** W10 — Holt level/trend as the reference computes them: level =
    * EWMA(α) of the value, trend = EWMA(β) of the first differences
    * (temporal_features_engine.py:262-276). */
  def withHolt(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
               valueCol: String, alpha: Double, beta: Double,
               levelCol: String = "holt_level", trendCol: String = "holt_trend"): DataFrame = {
    // native running window aggregate (see withEwma) — prunable,
    // exchange-sharing, no Row ser/deser; bit-identical to
    // SequentialKernelsReference.withHoltFold (SequentialKernelsSpec)
    df.withColumn("__holt", holtState(keyCols, ordCols, valueCol, alpha, beta))
      .withColumn(levelCol, col("__holt.level"))
      .withColumn(trendCol, col("__holt.trend"))
      .drop("__holt")
  }

  /** [[withHolt]]'s (level, trend) struct as one window column. */
  private[seq] def holtState(keyCols: Seq[String], ordCols: Seq[Column], valueCol: String,
                             alpha: Double, beta: Double): Column =
    graft.expr.SeqKernelExprs.windowed(
      graft.expr.HoltExpr(
        org.apache.spark.sql.GraftBridge.expression(col(valueCol).cast("double")),
        alpha, beta),
      keyCols.map(col), ordCols)

  /** Shared mean-centering stage of the MA/ARMA fits: the exact
    * micro-int series mean, with the row count and the `tail` columns
    * of the same [[SeriesTail]] aggregate, joined back on the series
    * key (AQE broadcasts it when small; at scale it co-partitions with
    * the fold's exchange). The source frame feeds BOTH the mean aggregate
    * and the centered series; a localCheckpoint of it was MEASURED a
    * wash and rejected (ArProbe r18: q253 2.60 -> 2.44 s, q255 flat —
    * AQE's runtime exchange reuse already shares the upstream weekly
    * aggregate across the two consumers, so the checkpoint only trades
    * lineage replay for a materialize while pinning non-reconstructible
    * blocks; the q262 rejected-alternative discipline). */
  private[graft] def centeredOnMu(df: DataFrame, keyCols: Seq[String],
                                  valueCol: String, tail: Seq[Column] = Nil): DataFrame = {
    val mu = SeriesTail.of(df, keyCols,
      graft.functions.Funcs.microMean(col(valueCol)).as("__mu") +: tail)
    df.join(mu, keyCols)
      .withColumn("__xc", col(valueCol).cast("double") - col("__mu"))
  }

  /** MA(1) innovation recursion — the moving-average member of the
    * sequential family (the MA side of the reference's ARIMA engine,
    * src/models/arima_temporal.py:339-345 fits (2,1,2); the innovation
    * filter is the engine-expressible core):
    *
    *   x_t = μ + ε_t + θ·ε_{t−1}  ⇒  ε_t = (x_t − μ) − θ·ε_{t−1}, ε_0 = 0
    *
    * with μ the per-series EXACT micro-int mean (Funcs.microMean — the
    * Theta/q221 determinism treatment, so both engines center on
    * bit-identical values for fractional series too; a rounded
    * avg(double) was partial-aggregation-order dependent at a 1e-4
    * knife-edge, the r9 advice finding).
    * Emits the innovation ε_t as `residCol` and the one-step-ahead
    * prediction x_t − ε_t (= μ + θ·ε_{t−1} up to IEEE association,
    * computed identically cross-engine) as `fittedCol`, both unrounded
    * — callers round at the output grain.
    *
    * A single-exchange [[keyedFold]]; a
    * recursive-CTE oracle replays the identical scalar chain (q250).
    */
  def withMa1(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
              valueCol: String, theta: Double,
              residCol: String = "ma1_resid",
              fittedCol: String = "ma1_fitted"): DataFrame = {
    val keys = keyCols.map(col)
    val centered = centeredOnMu(df, keyCols, valueCol)
    keyedFold[Double](centered, keyCols, ordCols, "__xc", Seq(residCol)) {
      case (None, st) => (Seq(None), st)
      case (Some(xc), st) =>
        val e = xc - theta * st.getOrElse(0.0)
        (Seq(Some(e)), Some(e))
    }
      .withColumn(fittedCol, col(valueCol) - col(residCol))
      .drop("__mu", "__xc", SeriesTail.Count)
  }

  /** MA(1) θ fit by conditional least squares over a LITERAL grid —
    * the engine-expressible analog of the reference's ARIMA order/
    * parameter search (statsmodels fits MA by nonlinear optimization;
    * a fixed candidate grid keeps the whole fit one deterministic
    * pass): run the [[withMa1]] innovation recursion for every θ in
    * `grid` simultaneously (one vectorized state per series, same
    * single exchange), keep each θ's running SSE, and pick the
    * (sse, θ)-smallest at the series end — ties (e.g. single-row
    * series where every θ scores 0) break to the smallest θ in both
    * engines. Returns one row per series: ma1_theta, ma1_sse.
    */
  def fitMa1(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
             valueCol: String, grid: Seq[Double] = Ma1Grid): DataFrame =
    fitMa1Full(df, keyCols, ordCols, valueCol, grid)
      .select(keyCols.map(col) ++ Seq(col("ma1_theta"), col("ma1_sse")): _*)

  /** [[fitMa1]] with the winner's forecast-relevant state attached:
    * `ma1_mu` (the exact micro-int series mean) and `ma1_eps_last` (the
    * winning θ's final innovation) — what the MA(1) h-step forecast
    * consumes (f_1 = μ + θ·ε_n, f_{s≥2} = μ). The kernel keeps each
    * θ's last innovation next to its SSE. */
  def fitMa1Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                 valueCol: String, grid: Seq[Double] = Ma1Grid): DataFrame = {
    require(grid.nonEmpty, "theta grid must be non-empty")
    gridFit(df, keyCols, ordCols, valueCol, "ma1", grid.map(Seq(_)))
      .select(keyCols.map(col) ++ ma1Cols(col("__best"), col("__mu")): _*)
  }

  /** MA(3) fit by conditional least squares over a LITERAL θ³ grid —
    * the q = 3 extension of [[fitMa1Full]], carried as the
    * order-search GRID-SCALE PROBE (the reference configures
    * max_q = 5, arima_temporal.py:69-70, but its stepwise walk
    * practically never leaves the (2,2) box on weekly retail series —
    * COVERAGE.md boundary note): the same grid kernel, state
    * (ε_{t−1}, ε_{t−2}, ε_{t−3}, SSE) per grid triple,
    *
    *   ε_t = (x_t − μ) − θ₁·ε_{t−1} − θ₂·ε_{t−2} − θ₃·ε_{t−3}
    *
    * with all pre-sample innovations zero (SSE from t = 1, the
    * [[fitMa1Full]] conditioning). One row per series: ma3_theta1/2/3,
    * ma3_sse (4dp), ma3_mu (exact micro-int mean), ma3_eps_last/
    * _prev/_prev2 — the forecast state. Ties break to the smallest
    * triple in both engines. */
  def fitMa3Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                 valueCol: String, grid: Seq[Double] = ThetaGrid): DataFrame = {
    require(grid.nonEmpty, "theta grid must be non-empty")
    val triples = for (t1 <- grid; t2 <- grid; t3 <- grid) yield Seq(t1, t2, t3)
    gridFit(df, keyCols, ordCols, valueCol, "ma3", triples)
      .select(keyCols.map(col) ++ ma3Cols(col("__best"), col("__mu")): _*)
  }

  /** h-step MA(3) forecast over an ALREADY-BUILT [[fitMa3Full]] table:
    * future innovations are zero, so the memory drains in three steps —
    *
    *   f_1 = r( μ + θ₁·ε_n + θ₂·ε_{n−1} + θ₃·ε_{n−2} )
    *   f_2 = r( μ + θ₂·ε_n + θ₃·ε_{n−1} )
    *   f_3 = r( μ + θ₃·ε_n )
    *   f_s = r( μ )                    s ≥ 4
    *
    * One row per (series, step) with the winning triple attached. */
  def ma3ForecastFrom(base: DataFrame, keyCols: Seq[String], h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val steps = armaSteps(col("ma3_mu"), Nil,
      Seq("ma3_theta1", "ma3_theta2", "ma3_theta3").map(col), Nil,
      Seq("ma3_eps_last", "ma3_eps_prev", "ma3_eps_prev2").map(col), h)
    stepRows(base, keyCols ++ Seq("ma3_theta1", "ma3_theta2", "ma3_theta3", "ma3_sse"),
      steps, "ma3_forecast")
  }

  /** Joint ARMA(1,1) fit by conditional least squares over a LITERAL
    * (φ, θ) grid — the combined autoregressive + moving-average core
    * (the reference's ARIMA(2,1,2) engine fits both sides jointly;
    * the grid keeps the search one deterministic pass):
    *
    *   ε_t = (x_t − μ) − φ·(x_{t−1} − μ) − θ·ε_{t−1},  conditioned on
    *   the first observation (ε_1 = 0, SSE over t ≥ 2)
    *
    * Every (φ, θ) pair's innovation state advances in ONE kernel pass
    * per series (the previous centered value rides the state, so
    * no lag column or extra window is needed); the series end yields
    * each pair's SSE and the (sse, φ, θ)-smallest wins — ties (e.g.
    * single-row series) break to the smallest pair in both engines.
    * Returns one row per series: arma_phi, arma_theta, arma_sse. */
  def fitArma11(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                valueCol: String,
                phiGrid: Seq[Double] = PhiGrid,
                thetaGrid: Seq[Double] = ThetaGrid): DataFrame =
    fitArma11Full(df, keyCols, ordCols, valueCol, phiGrid, thetaGrid)
      .select(keyCols.map(col) ++ Seq(col("arma_phi"), col("arma_theta"),
        col("arma_sse")): _*)

  /** [[fitArma11]] with the winner's forecast-relevant state attached:
    * `arma_mu` (the exact micro-int series mean), `arma_eps_last` (the
    * winning pair's final innovation) and `arma_xc_last` (the final
    * centered observation) — everything the h-step forecast recursion
    * consumes. The kernel keeps each pair's innovation next to its
    * SSE, so the state costs one double per grid pair and no new
    * exchange. */
  def fitArma11Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                    valueCol: String,
                    phiGrid: Seq[Double] = PhiGrid,
                    thetaGrid: Seq[Double] = ThetaGrid): DataFrame = {
    require(phiGrid.nonEmpty && thetaGrid.nonEmpty, "grids must be non-empty")
    gridFit(df, keyCols, ordCols, valueCol, "arma11", arma11Pairs(phiGrid, thetaGrid))
      .select(keyCols.map(col) ++ arma11Cols(col("__best"), col("__mu")): _*)
  }

  /** h-step ARMA(1,1) forecast from the CLS grid fit — the forecasting
    * side of the reference's ARIMA engine
    * (src/models/arima_temporal.py:363-402), closed-form-expressible
    * core: with (φ, θ) the winning pair, μ the series mean, x_n the
    * last observation and ε_n the final fitted innovation,
    *
    *   f_1 = r( μ + φ·(x_n − μ) + θ·ε_n )
    *   f_s = r( μ + φ·(f_{s−1} − μ) )      s ≥ 2 (future innovations = 0)
    *
    * each step rounded before feeding forward, so the recursive-CTE
    * oracle replays the identical chain. One output row per (series,
    * step); every series with ≥ 1 observation forecasts (single-row
    * series tie the grid to its smallest pair with ε_n = 0). */
  def arma11Forecast(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                     valueCol: String, h: Int,
                     phiGrid: Seq[Double] = PhiGrid,
                     thetaGrid: Seq[Double] = ThetaGrid): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val base = fitArma11Full(df, keyCols, ordCols, valueCol, phiGrid, thetaGrid)
    stepRows(base, keyCols, arma11Steps(h), "arma_forecast")
  }

  /** ARIMA(1,1,1) by composition (the d = 1 ARMA member — the
    * reference's default orders are exactly this differenced class,
    * src/models/arima_temporal.py:339-345): the ARMA(1,1) CLS grid fit
    * runs on the FIRST DIFFERENCES, and the h diff forecasts integrate
    * back from the last observed level,
    *
    *   ŷ_{n+s} = r( y_n + Σ_{j≤s} d̂_{n+j} )
    *
    * (the q249 ARI integration machinery: the cumulative sum runs in
    * step order inside one key partition, both engines left-folding the
    * same rounded diff forecasts). Series with < 2 observations (no
    * differences) drop. */
  def arima111Forecast(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                       valueCol: String, h: Int,
                       phiGrid: Seq[Double] = PhiGrid,
                       thetaGrid: Seq[Double] = ThetaGrid): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    require(phiGrid.nonEmpty && thetaGrid.nonEmpty, "grids must be non-empty")
    val diffed = diffs(SeriesTail.indexed(df, keyCols, ordCols), keyCols, ordCols,
      valueCol, 1, "__dy").filter(col("__dy").isNotNull)
    val base = gridFit(diffed, keyCols, ordCols, "__dy", "arma11",
      arma11Pairs(phiGrid, thetaGrid),
      Seq(SeriesTail.last(col(valueCol).cast("double")).as("__yn")))
      .select(keyCols.map(col) ++ arma11Cols(col("__best"), col("__mu")) :+ col("__yn"): _*)
    integrated(stepRows(base, keyCols :+ "__yn", arma11Steps(h), "arma_forecast"), keyCols,
      "arma_forecast", "arima_forecast")
      .select((keyCols ++ Seq("step", "arima_forecast")).map(col): _*)
  }

  /** [[armaSteps]] over a [[fitArma11Full]] row. */
  private def arma11Steps(h: Int): Seq[Column] =
    armaSteps(col("arma_mu"), Seq(col("arma_phi")), Seq(col("arma_theta")),
      Seq(col("arma_xc_last")), Seq(col("arma_eps_last")), h)

  /** `df` with `outCol` = v_t − v_{t−k} of `valueCol` over each series'
    * order, NULL on the series' first k rows (a fit of the differences
    * filters them out). Lag 1 is the d = 1 base, lag m the seasonal
    * one, and Δ² is lag 1 applied twice. */
  private[seq] def diffs(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                         valueCol: String, k: Int, outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    df.withColumn(outCol,
      v - lag(v, k).over(Window.partitionBy(keyCols.map(col): _*).orderBy(ordCols: _*)))
  }

  /** The d = 1 integration tail: `fc`'s diff forecasts `diffCol`
    * integrate back from the last observed level `__yn` (a column of
    * `fc`) as `outCol`,
    *
    *   ŷ_{n+s} = r( y_n + Σ_{j≤s} d̂_{n+j} )
    *
    * (the q249 ARI machinery: the cumulative sum runs in step order
    * inside one key partition, both engines left-folding the same
    * rounded diff forecasts). */
  private[seq] def integrated(fc: DataFrame, keyCols: Seq[String], diffCol: String,
                              outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wcum = Window.partitionBy(keyCols.map(col): _*).orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fc.withColumn(outCol,
      graft.functions.Funcs.r(col("__yn") + sum(col(diffCol)).over(wcum)))
  }

  /** Joint ARMA(2,1) fit by conditional least squares over a LITERAL
    * (φ₁, φ₂, θ) grid — the p = 2 extension of [[fitArma11Full]] that
    * closes the order-search family toward the reference's stepwise
    * auto-ARIMA bounds (src/models/arima_temporal.py:277-361 searches
    * p up to 5 via pmdarima; the engine greets the searched space with
    * the grid members it can fit in one deterministic pass):
    *
    *   ε_t = (x_t − μ) − φ₁·(x_{t−1} − μ) − φ₂·(x_{t−2} − μ) − θ·ε_{t−1}
    *
    * conditioned on the first TWO observations (ε_1 = ε_2 = 0, SSE
    * over t ≥ 3 — one more conditioning row than ARMA(1,1) because the
    * second AR lag only exists from t = 3). Every grid triple advances
    * in ONE kernel pass per series (both centered lags ride the
    * state); the series end yields each triple's SSE and the
    * (sse, φ₁, φ₂, θ)-smallest wins, ties breaking to the smallest
    * triple in both engines. Returns one row per series with the
    * winner's parameters and forecast-relevant state: arma2_phi1,
    * arma2_phi2, arma2_theta, arma2_sse, arma2_neff (the number of
    * SSE terms, n − 2), arma2_mu, arma2_eps_last, arma2_xc_last
    * (= x_n − μ) and arma2_xc_prev (= x_{n−1} − μ; 0.0 for
    * single-observation series, where every triple ties at SSE 0). */
  def fitArma21Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                    valueCol: String,
                    phi1Grid: Seq[Double] = PhiGrid,
                    phi2Grid: Seq[Double] = Lag2Grid,
                    thetaGrid: Seq[Double] = ThetaGrid): DataFrame = {
    require(phi1Grid.nonEmpty && phi2Grid.nonEmpty && thetaGrid.nonEmpty,
      "grids must be non-empty")
    val triples = for (p1 <- phi1Grid; p2 <- phi2Grid; t <- thetaGrid)
      yield Seq(p1, p2, t)
    gridFit(df, keyCols, ordCols, valueCol, "arma21", triples)
      .select(keyCols.map(col) ++ arma21Cols(col("__best"), col("__mu")): _*)
  }

  /** h-step ARMA(2,1) forecast over an ALREADY-BUILT [[fitArma21Full]]
    * table: with the winning (φ₁, φ₂, θ), future innovations zero,
    *
    *   f_1 = r( μ + φ₁·(x_n − μ) + φ₂·(x_{n−1} − μ) + θ·ε_n )
    *   f_2 = r( μ + φ₁·(f_1 − μ) + φ₂·(x_n − μ) )
    *   f_s = r( μ + φ₁·(f_{s−1} − μ) + φ₂·(f_{s−2} − μ) )   s ≥ 3
    *
    * each step rounded before feeding forward (recursive-CTE-replayable
    * chain). One row per (series, step). */
  def arma21ForecastFrom(base: DataFrame, keyCols: Seq[String], h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val steps = armaSteps(col("arma2_mu"), Seq(col("arma2_phi1"), col("arma2_phi2")),
      Seq(col("arma2_theta")), Seq(col("arma2_xc_last"), col("arma2_xc_prev")),
      Seq(col("arma2_eps_last")), h)
    stepRows(base, keyCols ++ Seq("arma2_phi1", "arma2_phi2", "arma2_theta", "arma2_sse"),
      steps, "arma2_forecast")
  }

  /** ARIMA(2,1,1) by composition — the d = 1 member of the ARMA(2,1)
    * class, one order past the family's ARIMA(1,1,1)
    * ([[arima111Forecast]]): over an ALREADY-BUILT
    * [[fitArma21Full]]-on-first-differences table plus the
    * last-observed-level frame (keys..., `__yn`) — both from
    * [[OrderSearch.extFitBases]] — the h diff forecasts integrate back
    * from the last observed level (ŷ_{n+s} = r(y_n + Σ_{j≤s} d̂_{n+j}),
    * the q249 integration machinery). Emits the winning (φ₁, φ₂, θ)
    * and diff-scale SSE alongside each step. */
  def arima211ForecastFrom(base: DataFrame, lastLevel: DataFrame,
                           keyCols: Seq[String], h: Int): DataFrame =
    integrated(arma21ForecastFrom(base, keyCols, h).join(lastLevel, keyCols), keyCols,
      "arma2_forecast", "arima_forecast")
      .select((keyCols ++ Seq("arma2_phi1", "arma2_phi2", "arma2_theta", "arma2_sse",
        "step", "arima_forecast")).map(col): _*)

  /** ARMA(2,2) conditional-least-squares fit on the literal
    * (φ₁, φ₂, θ₁, θ₂) grid — the q = 2 extension of [[fitArma21Full]]
    * completing the reference's statsmodels-fallback order
    * (arima_temporal.py:341: a literal ARIMA(2,1,2)). Same recursion
    * conditioned at ε₁ = ε₂ = 0 with the first SSE term at the third
    * observation:
    *
    *   ε_t = xc_t − φ₁·xc_{t−1} − φ₂·xc_{t−2} − θ₁·ε_{t−1} − θ₂·ε_{t−2}
    *
    * run once over the series per grid quadruple (flat primitive
    * state, 3 doubles per quadruple: ε_{t−1}, ε_{t−2}, SSE). Winner by
    * RAW sse with ties to the smallest (φ₁, φ₂, θ₁, θ₂); one row per
    * series: the winning quadruple, r(sse), the residual count
    * (n − 2), the exact micro-int mean, ε_n and ε_{n−1}, and
    * xc_n / xc_{n−1} — everything the forecast recursion needs. */
  def fitArma22Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                    valueCol: String,
                    phi1Grid: Seq[Double] = PhiGrid,
                    phi2Grid: Seq[Double] = Lag2Grid,
                    theta1Grid: Seq[Double] = ThetaGrid,
                    theta2Grid: Seq[Double] = Lag2Grid): DataFrame = {
    require(phi1Grid.nonEmpty && phi2Grid.nonEmpty &&
      theta1Grid.nonEmpty && theta2Grid.nonEmpty, "grids must be non-empty")
    val quads = for (p1 <- phi1Grid; p2 <- phi2Grid; t1 <- theta1Grid;
                     t2 <- theta2Grid) yield Seq(p1, p2, t1, t2)
    gridFit(df, keyCols, ordCols, valueCol, "arma22", quads)
      .select(keyCols.map(col) ++ arma22Cols(col("__best"), col("__mu")): _*)
  }

  /** h-step ARMA(2,2) forecast from the CLS grid fit: with the winning
    * (φ₁, φ₂, θ₁, θ₂), future innovations zero,
    *
    *   f_1 = r( μ + φ₁·(x_n − μ) + φ₂·(x_{n−1} − μ) + θ₁·ε_n + θ₂·ε_{n−1} )
    *   f_2 = r( μ + φ₁·(f_1 − μ) + φ₂·(x_n − μ) + θ₂·ε_n )
    *   f_s = r( μ + φ₁·(f_{s−1} − μ) + φ₂·(f_{s−2} − μ) )   s ≥ 3
    *
    * each step rounded before feeding forward (recursive-CTE-replayable
    * chain). One row per (series, step). */
  def arma22ForecastFrom(base: DataFrame, keyCols: Seq[String], h: Int): DataFrame = {
    require(h >= 1, "horizon must be at least 1")
    val steps = armaSteps(col("arma22_mu"), Seq(col("arma22_phi1"), col("arma22_phi2")),
      Seq(col("arma22_theta1"), col("arma22_theta2")),
      Seq(col("arma22_xc_last"), col("arma22_xc_prev")),
      Seq(col("arma22_eps_last"), col("arma22_eps_prev")), h)
    stepRows(base, keyCols ++ Seq("arma22_phi1", "arma22_phi2", "arma22_theta1",
      "arma22_theta2", "arma22_sse"), steps, "arma22_forecast")
  }

  /** The ARIMA(2,1,2) integration tail over an ALREADY-BUILT
    * [[fitArma22Full]]-on-first-differences table plus the
    * last-observed-level frame (keys..., `__yn`) — the reference's
    * statsmodels-fallback order (arima_temporal.py:341) by the exact
    * [[arima211ForecastFrom]] integration chain. */
  def arima212ForecastFrom(base: DataFrame, lastLevel: DataFrame,
                           keyCols: Seq[String], h: Int): DataFrame =
    integrated(arma22ForecastFrom(base, keyCols, h).join(lastLevel, keyCols), keyCols,
      "arma22_forecast", "arima_forecast")
      .select((keyCols ++ Seq("arma22_phi1", "arma22_phi2", "arma22_theta1",
        "arma22_theta2", "arma22_sse", "step", "arima_forecast")).map(col): _*)

  /** M5 — Croston's method (and the SBA bias-corrected variant):
    * exponential smoothing of the nonzero-demand sizes (z) and the
    * inter-demand intervals (p); per-row forecast = z/p
    * (× (1−α/2) for SBA). Zero-demand rows emit the carried forecast.
    * (reference: intermittent_demand.py:44-111) */
  def withCroston(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                  valueCol: String, alpha: Double, sba: Boolean = false,
                  outCol: String = "croston_forecast"): DataFrame = {
    // native running window aggregate (see withEwma) — prunable,
    // exchange-sharing, no Row ser/deser; bit-identical to
    // SequentialKernelsReference.withCrostonFold (SequentialKernelsSpec)
    val factor = if (sba) 1.0 - alpha / 2.0 else 1.0
    df.withColumn(outCol, graft.expr.SeqKernelExprs.windowed(
      graft.expr.CrostonExpr(
        org.apache.spark.sql.GraftBridge.expression(col(valueCol).cast("double")),
        alpha, factor),
      keyCols.map(col), ordCols))
  }

  /** M5 — TSB (Teunter-Syntetos-Babai): demand-probability smoothing
    * every period (β), size smoothing on demand periods (α); forecast =
    * prob × size (reference: intermittent_demand.py:113-175). */
  def withTsb(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
              valueCol: String, alpha: Double, beta: Double,
              outCol: String = "tsb_forecast"): DataFrame =
    // native running window aggregate (see withEwma) — prunable,
    // exchange-sharing, no Row ser/deser; bit-identical to
    // SequentialKernelsReference.withTsbFold (SequentialKernelsSpec)
    df.withColumn(outCol, graft.expr.SeqKernelExprs.windowed(
      graft.expr.TsbExpr(
        org.apache.spark.sql.GraftBridge.expression(col(valueCol).cast("double")),
        alpha, beta),
      keyCols.map(col), ordCols))

  /** M6 — intermittency classification: ADI = periods/nonzero-periods,
    * CV² of nonzero demand sizes → smooth / intermittent / erratic /
    * lumpy (reference: intermittent_demand.py:411-490; standard
    * Syntetos-Boylan cutoffs 1.32 / 0.49). Pure aggregation — no kernel.
    */
  def classifyIntermittency(df: DataFrame, keyCols: Seq[Column], value: Column,
                            outNames: Seq[String]): DataFrame = {
    import graft.functions.Funcs.nanToNull
    df.groupBy(keyCols: _*)
      .agg(
        count(lit(1)).as("n_periods"),
        sum(when(value > 0, 1L).otherwise(0L)).as("n_nonzero"),
        avg(when(value > 0, value)).as("nz_mean"),
        nanToNull(stddev(when(value > 0, value))).as("nz_std"))
      .withColumn("adi", col("n_periods") / col("n_nonzero"))
      .withColumn("cv2", pow(col("nz_std") / col("nz_mean"), 2))
      .withColumn("demand_class",
        when(col("n_nonzero") === 0, "dead")
          .when(col("adi") < 1.32 && (col("cv2") < 0.49 || col("cv2").isNull), "smooth")
          .when(col("adi") >= 1.32 && (col("cv2") < 0.49 || col("cv2").isNull), "intermittent")
          .when(col("adi") < 1.32, "erratic")
          .otherwise("lumpy"))
  }

  /** W10+ — additive Holt-Winters (triple exponential smoothing):
    * level/trend as in [[withHolt]] plus an m-season additive seasonal
    * state updated once per cycle position:
    *   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(x_t − l_t) + (1−γ)s_{t−m}
    * Seasonal state initializes to 0 (first cycle is level-only — the
    * common streaming initialization). Slot-0 asymmetry, stated
    * explicitly: the first observation writes ring slot 0 with
    * γ(x−l) = 0 (l initializes to x, so the write is trivially zero,
    * not data-dependent); slots 1..m−1 first receive data-driven values
    * at observations 2..m, and slot 0 only at observation m+1. Every
    * first-cycle read therefore sees 0. Per-series state is m+2
    * doubles, carried through a single-exchange [[keyedFold]].
    * Oracle-backed (q191): the ring unrolls into
    * m recursive-CTE state columns, the q73/q74 recipe. */
  def withHoltWinters(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                      valueCol: String, alpha: Double, beta: Double,
                      gamma: Double, m: Int,
                      levelCol: String = "hw_level", trendCol: String = "hw_trend",
                      seasonalCol: String = "hw_seasonal"): DataFrame = {
    require(m > 0)
    // state = (level, trend, season ring, position)
    keyedFold[(Double, Double, Vector[Double], Int)](df, keyCols, ordCols, valueCol,
      Seq(levelCol, trendCol, seasonalCol)) {
      case (None, st) =>
        (Seq(st.map(_._1), st.map(_._2),
          st.map { case (_, _, s, p) => s(p % m) }), st)
      case (Some(x), None) =>
        val s0 = Vector.fill(m)(0.0)
        (Seq(Some(x), Some(0.0), Some(0.0)),
          Some((x, 0.0, s0.updated(0, gamma * (x - x)), 1)))
      case (Some(x), Some((l0, b0, s, p))) =>
        val sPrev = s(p % m)
        val l = alpha * (x - sPrev) + (1 - alpha) * (l0 + b0)
        val b = beta * (l - l0) + (1 - beta) * b0
        val sNew = gamma * (x - l) + (1 - gamma) * sPrev
        (Seq(Some(l), Some(b), Some(sNew)),
          Some((l, b, s.updated(p % m, sNew), p + 1)))
    }
  }

  /** W10+ — damped-trend Holt forecast: from each series' LAST
    * (level, trend) state, the h-step-ahead point forecast
    *   f_{n+s} = l_n + b_n · Σ_{i=1..s} φⁱ
    * (Gardner–McKenzie damping; φ = 1 is plain Holt, φ < 1 flattens
    * the trend toward l + b·φ/(1−φ)). The damping sums are DRIVER-SIDE
    * constants embedded as literals — both engines multiply the same
    * doubles, so there is no cross-engine pow() to reconcile — and the
    * last state is rounded before extrapolation (oracle q222: the q74
    * recursive CTE picks the last row, then pure literal arithmetic).
    * One output row per (series, step); series of length 1 (no trend
    * yet) are dropped. */
  def dampedHoltForecast(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                         valueCol: String, alpha: Double, beta: Double,
                         phi: Double, h: Int): DataFrame = {
    import graft.functions.Funcs.r
    require(h >= 1, "horizon must be at least 1")
    require(phi > 0 && phi <= 1, "damping must be in (0, 1]")
    val last = SeriesTail.of(
      SeriesTail.indexed(withHolt(df, keyCols, ordCols, valueCol, alpha, beta), keyCols, ordCols),
      keyCols, Seq(SeriesTail.last(col("holt_level")).as("__l"),
        SeriesTail.last(col("holt_trend")).as("__b")))
      .filter(col("__b").isNotNull)
    stepRows(last, keyCols, dampedSteps(r(col("__l")), r(col("__b")), phi, h), "holt_forecast")
  }

  /** The damped extrapolation steps r(l + b·Σ_{i≤s} φⁱ), s = 1..h, from
    * an already-rounded last level `l` and trend `b`. */
  private[seq] def dampedSteps(l: Column, b: Column, phi: Double, h: Int): Seq[Column] = {
    import graft.functions.Funcs.r
    dampSums(phi, h).map(d => r(l + b * lit(d)))
  }

  /** W10++ — additive Holt-Winters h-step forecast: from each series'
    * last state, f_{n+s} = l_n + s·b_n + season[(n−1+s) mod m] — the
    * M-competition standard seasonal extrapolation over the
    * [[withHoltWinters]] recursion. The season for step s is read from
    * the EMITTED `hw_seasonal` of row n+s−m, the latest row that wrote
    * that ring slot (h ≤ m guarantees it is at most one season old); a
    * slot never written (series shorter than a season) contributes the
    * ring's initial 0. Last level/trend and each season are rounded
    * before the literal extrapolation — the q222 damped-Holt recipe —
    * so the oracle (q266) is the q191 recursive CTE's final ring plus
    * pure arithmetic. One output row per (series, step). */
  def holtWintersForecast(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                          valueCol: String, alpha: Double, beta: Double,
                          gamma: Double, m: Int, h: Int): DataFrame = {
    import graft.functions.Funcs.r
    require(h >= 1 && h <= m, "horizon must lie in [1, m]")
    val hw = withHoltWinters(df, keyCols, ordCols, valueCol, alpha, beta, gamma, m)
    val last = SeriesTail.of(SeriesTail.indexed(hw, keyCols, ordCols), keyCols,
      Seq(SeriesTail.last(col("hw_level")).as("__l"), SeriesTail.last(col("hw_trend")).as("__tr")) ++
        SeriesTail.bases(col("hw_seasonal"), lit(m), h))
    stepRows(last, keyCols, (1 to h).map { s =>
      r(r(col("__l")) + lit(s) * r(col("__tr")) + coalesce(r(col(s"__b$s")), lit(0.0)))
    }, "hw_forecast")
  }

  /** Cumulative damping factors Σ_{i=1..s} φⁱ for s = 1..h, computed by
    * exact iterative multiplication (shared with the oracle builder so
    * both engines embed bit-identical literals). */
  def dampSums(phi: Double, h: Int): Seq[Double] = {
    var p = 1.0
    var acc = 0.0
    (1 to h).map { _ => p *= phi; acc += p; acc }
  }

  /** Two-sided CUSUM change detection over a pre-centered deviation
    * column (value − target):
    *   pos_t = max(0, pos_{t−1} + d_t − slack)
    *   neg_t = max(0, neg_{t−1} − d_t − slack)
    * with an alarm when either side exceeds `h`. The caller centers the
    * series first (e.g. subtract the per-series mean rounded to 4
    * decimals so both engines recurse from identical doubles); keeping
    * the kernel on a single delta column lets it ride [[keyedFold]] —
    * one series exchange, no per-group materialization. */
  def withCusum(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                deltaCol: String, slack: Double, h: Double,
                posCol: String = "cusum_pos", negCol: String = "cusum_neg",
                alarmCol: String = "cusum_alarm"): DataFrame =
    keyedFold[(Double, Double)](df, keyCols, ordCols, deltaCol,
      Seq(posCol, negCol)) {
      case (None, st) => (Seq(st.map(_._1), st.map(_._2)), st)
      case (Some(d), st) =>
        val (pp, pn) = st.getOrElse((0.0, 0.0))
        val np = math.max(0.0, pp + d - slack)
        val nn = math.max(0.0, pn - d - slack)
        (Seq(Some(np), Some(nn)), Some((np, nn)))
    }.withColumn(alarmCol,
      (col(posCol) > h || col(negCol) > h).cast("long"))
}
