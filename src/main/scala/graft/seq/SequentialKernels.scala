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
  * other recursions (Holt-Winters, CUSUM, the MA(1) filter and the
  * grid fits' `arrayFits=false` fallback) run [[keyedFold]] or
  * [[keyedFoldLast]]: ONE hash shuffle on the series key, a sort
  * within partitions by (key, order), then a streaming fold over the
  * sorted iterator detecting key-run boundaries. Neither shape
  * materializes a whole group in memory (unlike `groupByKey.
  * flatMapGroups`), so a pathological million-row series streams
  * instead of OOMing.
  *
  * Null values leave the state unchanged and emit the current state
  * (pandas `ewm(ignore_na=False)`-adjacent; exact NaN weighting of
  * pandas is not reproduced — documented divergence).
  */
object SequentialKernels {

  /** Session conf selecting the grid FITS' execution shape (r18, the
    * QuantileReg.SinglePassConf pattern): `true` (the unset default) =
    * array form — each series' values pack into ONE sorted array inside
    * the same hash aggregate that computes the exact micro-int mean,
    * and every grid member's innovation recursion plus the
    * (sse, params…)-ascending winner pick run inside a single
    * projection. That replaces the fold form's FOUR-exchange pipeline
    * (mean aggregate + mean join + fold repartition/sort + pick window
    * — the MapPartitions fold reports unknown partitioning, so the
    * window re-shuffles) with TWO exchanges and no boxed-Row pass, and
    * is bit-identical: the recursions replicate the fold's IEEE chains
    * operation for operation, and the comparator pick reproduces the
    * window's (sse, params…) ascending order including Spark's
    * NaN-largest comparison semantics (SequentialKernelsSpec pins the
    * toggle). `false` = the streaming fold form — the recovery shape
    * for a series whose packed value array cannot fit one task (the
    * fits' series are calendar-bounded weekly grains, so that regime
    * is not expected even at 100 TB).
    *
    * Array-form constraints (all in-repo callers satisfy them; the
    * fold form has the same documented requirements): `ordCols` must
    * be plain ascending orderable columns, unique per series — the
    * cells sort by struct order exactly as the fold sorts within
    * partitions. */
  val ArrayFitsConf = "spark.graft.arrayFits"

  /** Read from the input frame's own session when the fit is built:
    * setting the conf after building the DataFrame has no effect. */
  private[seq] def arrayFits(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ArrayFitsConf, "true").toBoolean

  /** Shared packed-series stage of the array-form grid fits: one hash
    * aggregate per series yields the exact micro-int mean (the
    * centeredOnMu convention — NULL values still count in the divisor)
    * and the (ordCols…)-sorted (ord…, value) struct array. Null-key
    * rows drop first: the fold form's centeredOnMu INNER join can
    * never match them, so the array form must not emit their group. */
  private def packedSeries(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                           valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    df.filter(keys.map(_.isNotNull).reduce(_ && _))
      .groupBy(keys: _*)
      .agg(graft.functions.Funcs.microMean(col(valueCol)).as("__mu"),
        cellsOf(ordCols, valueCol).as("__cells"))
  }

  /** The series' (ord…, value) cells sorted by `ordCols`, as an
    * aggregate: the packed input of [[graft.expr.GridFitExpr]], its
    * value at index `ordCols.size`. `fed` may NULL a row's cell to leave
    * it out. */
  private[seq] def cellsOf(ordCols: Seq[Column], valueCol: String,
                           fed: Column => Column = c => c): Column =
    sort_array(collect_list(fed(struct(
      ordCols.zipWithIndex.map { case (o, i) => o.as(s"__o$i") } :+
        col(valueCol).cast("double").as("__v"): _*))))

  /** One-projection grid fit over the packed series: every member's
    * recursion and the (sse, params…)-ascending winner pick run inside
    * [[graft.expr.GridFitExpr]] — one compiled call per SERIES row.
    * The `__best` struct materializes in its own projection
    * (CollapseProject keeps multi-referenced non-cheap aliases), so
    * the caller's field extraction never re-runs the fit. */
  private def gridArrayFit(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                           valueCol: String, kind: String,
                           members: Seq[Seq[Double]]): DataFrame =
    packedSeries(df, keyCols, ordCols, valueCol)
      .withColumn("__best", graft.expr.GridFitExpr.column(
        col("__cells"), col("__mu"), vIdx = ordCols.size, kind, members))
      .drop("__cells")

  /** Default CLS grids of the MA(1) and ARMA(1,1) fits. */
  private val Ma1Grid = Seq(-0.8, -0.4, 0.0, 0.4, 0.8)
  private val Arma11PhiGrid = Seq(-0.5, 0.0, 0.5, 0.9)
  private val Arma11ThetaGrid = Seq(-0.4, 0.0, 0.4)

  /** The default-grid MA(1) and ARMA(1,1) winners over a series' packed
    * [[cellsOf]] cells and exact mean, as the champion family fits them. */
  private[seq] def ma1Winner(cells: Column, mu: Column, nOrd: Int): Column =
    graft.expr.GridFitExpr.column(cells, mu, nOrd, "ma1", Ma1Grid.map(Seq(_)))

  private[seq] def arma11Winner(cells: Column, mu: Column, nOrd: Int): Column =
    graft.expr.GridFitExpr.column(cells, mu, nOrd, "arma11", arma11Pairs(
      Arma11PhiGrid, Arma11ThetaGrid))

  private def arma11Pairs(phiGrid: Seq[Double], thetaGrid: Seq[Double]): Seq[Seq[Double]] =
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
  private def keyedFoldLast[S](df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                               valueCol: String, outCols: Seq[String])(
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
  /** Shared mean-centering stage of the MA/ARMA fits: the exact
    * micro-int series mean joined back on the series key (AQE
    * broadcasts it when small; at scale it co-partitions with the
    * fold's exchange). The source frame feeds BOTH the mean aggregate
    * and the centered series; a localCheckpoint of it was MEASURED a
    * wash and rejected (ArProbe r18: q253 2.60 -> 2.44 s, q255 flat —
    * AQE's runtime exchange reuse already shares the upstream weekly
    * aggregate across the two consumers, so the checkpoint only trades
    * lineage replay for a materialize while pinning non-reconstructible
    * blocks; the q262 rejected-alternative discipline). */
  private def centeredOnMu(df: DataFrame, keyCols: Seq[String],
                           valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val mu = df.groupBy(keys: _*)
      .agg(graft.functions.Funcs.microMean(col(valueCol)).as("__mu"))
    df.join(mu, keyCols)
      .withColumn("__xc", col(valueCol).cast("double") - col("__mu"))
  }

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
      .drop("__mu", "__xc")
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
    * consumes (f_1 = μ + θ·ε_n, f_{s≥2} = μ). Same single vectorized
    * fold, one extra emitted double per grid point. */
  def fitMa1Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                 valueCol: String, grid: Seq[Double] = Ma1Grid): DataFrame = {
    require(grid.nonEmpty, "theta grid must be non-empty")
    if (arrayFits(df)) fitMa1FullArray(df, keyCols, ordCols, valueCol, grid)
    else fitMa1FullFold(df, keyCols, ordCols, valueCol, grid)
  }

  /** Array form of [[fitMa1Full]] ([[ArrayFitsConf]]): per θ, state
    * (ε, SSE) starts at (0, 0) and each non-null observation applies
    *   ε' = xc − θ·ε ;  SSE' = SSE + ε'·ε'
    * — the fold form's exact chain. */
  private def fitMa1FullArray(df: DataFrame, keyCols: Seq[String],
                              ordCols: Seq[Column], valueCol: String,
                              grid: Seq[Double]): DataFrame =
    gridArrayFit(df, keyCols, ordCols, valueCol, "ma1", grid.map(Seq(_)))
      .select(keyCols.map(col) ++ ma1Cols(col("__best"), col("__mu")): _*)

  /** Pre-r18 streaming-fold form of [[fitMa1Full]] — the
    * [[ArrayFitsConf]] fallback and the parity spec's reference
    * twin. */
  private[graft] def fitMa1FullFold(df: DataFrame, keyCols: Seq[String],
                                    ordCols: Seq[Column], valueCol: String,
                                    grid: Seq[Double]): DataFrame = {
    val keys = keyCols.map(col)
    val nG = grid.size
    val gridArr = grid.toArray
    val centered = centeredOnMu(df, keyCols, valueCol)
    val sseCols = grid.indices.map(i => s"__sse$i")
    val epsCols = grid.indices.map(i => s"__e$i")
    // series-end fold: flat primitive state [e_i, sse_i]*, mutated in
    // place — same IEEE chain per θ as the per-row form, one output
    // row per series
    val last = keyedFoldLast[Array[Double]](
      centered, keyCols, ordCols, "__xc", sseCols ++ epsCols) {
      case (None, st) => st
      case (Some(xc), stOpt) =>
        val a = stOpt.getOrElse(new Array[Double](2 * nG))
        var i = 0
        while (i < nG) {
          val ne = xc - gridArr(i) * a(2 * i)
          a(2 * i) = ne
          a(2 * i + 1) += ne * ne
          i += 1
        }
        Some(a)
    } { st =>
      val a = st.getOrElse(new Array[Double](2 * nG))
      grid.indices.map(i => Some(a(2 * i + 1))) ++
        grid.indices.map(i => Some(a(2 * i)))
    }
    val pairs = last.select(keys ++ Seq(col("__mu")) :+
      explode(array(grid.zipWithIndex.map {
        case (th, i) => struct(lit(th).as("theta"), col(s"__sse$i").as("sse"),
          col(s"__e$i").as("eps"))
      }: _*)).as("__p"): _*)
      .select(keys ++ Seq(col("__mu"), col("__p.theta").as("theta"),
        col("__p.sse").as("sse"), col("__p.eps").as("eps")): _*)
    // both engines fold the identical IEEE chain per θ, so ordering by
    // the RAW sse (rounding only the reported value) picks the same θ
    import org.apache.spark.sql.expressions.Window
    val wPick = Window.partitionBy(keys: _*).orderBy(col("sse"), col("theta"))
    pairs.withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(keys ++ Seq(col("theta").as("ma1_theta"),
        graft.functions.Funcs.r(col("sse")).as("ma1_sse"),
        col("__mu").as("ma1_mu"),
        col("eps").as("ma1_eps_last")): _*)
  }

  /** MA(3) fit by conditional least squares over a LITERAL θ³ grid —
    * the q = 3 extension of [[fitMa1Full]], carried as the
    * order-search GRID-SCALE PROBE (the reference configures
    * max_q = 5, arima_temporal.py:69-70, but its stepwise walk
    * practically never leaves the (2,2) box on weekly retail series —
    * COVERAGE.md boundary note): the same series-end fold pattern,
    * state (ε_{t−1}, ε_{t−2}, ε_{t−3}, SSE) per grid triple,
    *
    *   ε_t = (x_t − μ) − θ₁·ε_{t−1} − θ₂·ε_{t−2} − θ₃·ε_{t−3}
    *
    * with all pre-sample innovations zero (SSE from t = 1, the
    * [[fitMa1Full]] conditioning). One row per series: ma3_theta1/2/3,
    * ma3_sse (4dp), ma3_mu (exact micro-int mean), ma3_eps_last/
    * _prev/_prev2 — the forecast state. Ties break to the smallest
    * triple in both engines. */
  def fitMa3Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                 valueCol: String,
                 grid: Seq[Double] = Seq(-0.4, 0.0, 0.4)): DataFrame = {
    require(grid.nonEmpty, "theta grid must be non-empty")
    if (arrayFits(df)) fitMa3FullArray(df, keyCols, ordCols, valueCol, grid)
    else fitMa3FullFold(df, keyCols, ordCols, valueCol, grid)
  }

  /** Array form of [[fitMa3Full]] ([[ArrayFitsConf]]): per θ-triple,
    * state (ε, ε₋₁, ε₋₂, SSE) starts at zeros and each non-null
    * observation applies
    *   ε' = xc − θ₁·ε − θ₂·ε₋₁ − θ₃·ε₋₂ ;  SSE' = SSE + ε'·ε'
    * with the ε memory shifting — the fold form's exact chain. */
  private def fitMa3FullArray(df: DataFrame, keyCols: Seq[String],
                              ordCols: Seq[Column], valueCol: String,
                              grid: Seq[Double]): DataFrame = {
    val triples = for (t1 <- grid; t2 <- grid; t3 <- grid) yield Seq(t1, t2, t3)
    val keys = keyCols.map(col)
    val fitted = gridArrayFit(df, keyCols, ordCols, valueCol, "ma3", triples)
    val b = col("__best")
    fitted.select(keys ++ Seq(b.getField("theta1").as("ma3_theta1"),
      b.getField("theta2").as("ma3_theta2"),
      b.getField("theta3").as("ma3_theta3"),
      graft.functions.Funcs.r(b.getField("sse")).as("ma3_sse"),
      col("__mu").as("ma3_mu"),
      b.getField("e").as("ma3_eps_last"),
      b.getField("ep").as("ma3_eps_prev"),
      b.getField("epp").as("ma3_eps_prev2")): _*)
  }

  /** Pre-r18 streaming-fold form of [[fitMa3Full]] — the
    * [[ArrayFitsConf]] fallback and the parity spec's reference
    * twin. */
  private[graft] def fitMa3FullFold(df: DataFrame, keyCols: Seq[String],
                                    ordCols: Seq[Column], valueCol: String,
                                    grid: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val triples = for (t1 <- grid; t2 <- grid; t3 <- grid) yield (t1, t2, t3)
    val keys = keyCols.map(col)
    val nT = triples.size
    val tripleArr = triples.toArray
    val centered = centeredOnMu(df, keyCols, valueCol)
    val sseCols = triples.indices.map(i => s"__sse$i")
    val eCols = triples.indices.map(i => s"__e$i")
    val epCols = triples.indices.map(i => s"__ep$i")
    val eppCols = triples.indices.map(i => s"__epp$i")
    // flat primitive state [(e_i, ep_i, epp_i, sse_i)*] mutated in place
    val last = keyedFoldLast[Array[Double]](
      centered, keyCols, ordCols, "__xc",
      sseCols ++ eCols ++ epCols ++ eppCols) {
      case (None, st) => st
      case (Some(xc), stOpt) =>
        val a = stOpt.getOrElse(new Array[Double](4 * nT))
        var i = 0
        while (i < nT) {
          val (t1, t2, t3) = tripleArr(i)
          val ne = xc - t1 * a(4 * i) - t2 * a(4 * i + 1) - t3 * a(4 * i + 2)
          a(4 * i + 2) = a(4 * i + 1)
          a(4 * i + 1) = a(4 * i)
          a(4 * i) = ne
          a(4 * i + 3) += ne * ne
          i += 1
        }
        Some(a)
    } { st =>
      val a = st.getOrElse(new Array[Double](4 * nT))
      triples.indices.map(i => Some(a(4 * i + 3))) ++
        triples.indices.map(i => Some(a(4 * i))) ++
        triples.indices.map(i => Some(a(4 * i + 1))) ++
        triples.indices.map(i => Some(a(4 * i + 2)))
    }
    val longForm = last.select(keys ++ Seq(col("__mu")) :+
      explode(array(triples.zipWithIndex.map {
        case ((t1, t2, t3), i) => struct(lit(t1).as("theta1"),
          lit(t2).as("theta2"), lit(t3).as("theta3"),
          col(s"__sse$i").as("sse"), col(s"__e$i").as("eps"),
          col(s"__ep$i").as("epsp"), col(s"__epp$i").as("epspp"))
      }: _*)).as("__p"): _*)
      .select(keys ++ Seq(col("__mu"), col("__p.theta1").as("theta1"),
        col("__p.theta2").as("theta2"), col("__p.theta3").as("theta3"),
        col("__p.sse").as("sse"), col("__p.eps").as("eps"),
        col("__p.epsp").as("epsp"), col("__p.epspp").as("epspp")): _*)
    val wPick = Window.partitionBy(keys: _*)
      .orderBy(col("sse"), col("theta1"), col("theta2"), col("theta3"))
    longForm.withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(keys ++ Seq(col("theta1").as("ma3_theta1"),
        col("theta2").as("ma3_theta2"),
        col("theta3").as("ma3_theta3"),
        graft.functions.Funcs.r(col("sse")).as("ma3_sse"),
        col("__mu").as("ma3_mu"),
        col("eps").as("ma3_eps_last"),
        col("epsp").as("ma3_eps_prev"),
        col("epspp").as("ma3_eps_prev2")): _*)
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
    import graft.functions.Funcs.r
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val steps = (1 to h).map {
      case 1 => r(col("ma3_mu") + col("ma3_theta1") * col("ma3_eps_last") +
        col("ma3_theta2") * col("ma3_eps_prev") +
        col("ma3_theta3") * col("ma3_eps_prev2"))
      case 2 => r(col("ma3_mu") + col("ma3_theta2") * col("ma3_eps_last") +
        col("ma3_theta3") * col("ma3_eps_prev"))
      case 3 => r(col("ma3_mu") + col("ma3_theta3") * col("ma3_eps_last"))
      case _ => r(col("ma3_mu"))
    }
    base.select(keys ++ Seq(col("ma3_theta1"), col("ma3_theta2"),
      col("ma3_theta3"), col("ma3_sse")) :+
      posexplode(array(steps: _*)).as(Seq("__p", "ma3_forecast")): _*)
      .withColumn("step", (col("__p") + 1).cast("long"))
      .select(keys ++ Seq(col("ma3_theta1"), col("ma3_theta2"),
        col("ma3_theta3"), col("ma3_sse"), col("step"),
        col("ma3_forecast")): _*)
  }

  /** Joint ARMA(1,1) fit by conditional least squares over a LITERAL
    * (φ, θ) grid — the combined autoregressive + moving-average core
    * (the reference's ARIMA(2,1,2) engine fits both sides jointly;
    * the grid keeps the search one deterministic pass):
    *
    *   ε_t = (x_t − μ) − φ·(x_{t−1} − μ) − θ·ε_{t−1},  conditioned on
    *   the first observation (ε_1 = 0, SSE over t ≥ 2)
    *
    * Every (φ, θ) pair's innovation state advances in ONE vectorized
    * fold per series (the previous centered value rides the state, so
    * no lag column or extra window is needed); the series end yields
    * each pair's SSE and the (sse, φ, θ)-smallest wins — ties (e.g.
    * single-row series) break to the smallest pair in both engines.
    * Returns one row per series: arma_phi, arma_theta, arma_sse. */
  def fitArma11(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                valueCol: String,
                phiGrid: Seq[Double] = Arma11PhiGrid,
                thetaGrid: Seq[Double] = Arma11ThetaGrid): DataFrame =
    fitArma11Full(df, keyCols, ordCols, valueCol, phiGrid, thetaGrid)
      .select(keyCols.map(col) ++ Seq(col("arma_phi"), col("arma_theta"),
        col("arma_sse")): _*)

  /** [[fitArma11]] with the winner's forecast-relevant state attached:
    * `arma_mu` (the exact micro-int series mean), `arma_eps_last` (the
    * winning pair's final innovation) and `arma_xc_last` (the final
    * centered observation) — everything the h-step forecast recursion
    * consumes. Same single vectorized fold: each pair's innovation
    * rides the emitted columns next to its SSE, so the state costs one
    * extra double column per grid pair and no new exchange. */
  def fitArma11Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                    valueCol: String,
                    phiGrid: Seq[Double] = Arma11PhiGrid,
                    thetaGrid: Seq[Double] = Arma11ThetaGrid): DataFrame = {
    require(phiGrid.nonEmpty && thetaGrid.nonEmpty, "grids must be non-empty")
    if (arrayFits(df)) fitArma11FullArray(df, keyCols, ordCols, valueCol,
      phiGrid, thetaGrid)
    else fitArma11FullFold(df, keyCols, ordCols, valueCol, phiGrid, thetaGrid)
  }

  /** Array form of [[fitArma11Full]] ([[ArrayFitsConf]]): per (φ, θ),
    * state (xcₚ, ε, SSE) — the first non-null observation only seeds
    * xcₚ (ε₁ = 0, no SSE term, the fold's conditioning); each later
    * one applies
    *   ε' = xc − φ·xcₚ − θ·ε ;  SSE' = SSE + ε'·ε' ;  xcₚ' = xc
    * xcₚ starts NULL so an all-null series reports a NULL xc_last,
    * exactly like the fold's absent state. */
  private def fitArma11FullArray(df: DataFrame, keyCols: Seq[String],
                                 ordCols: Seq[Column], valueCol: String,
                                 phiGrid: Seq[Double], thetaGrid: Seq[Double]): DataFrame =
    gridArrayFit(df, keyCols, ordCols, valueCol, "arma11", arma11Pairs(phiGrid, thetaGrid))
      .select(keyCols.map(col) ++ arma11Cols(col("__best"), col("__mu")): _*)

  /** Pre-r18 streaming-fold form of [[fitArma11Full]] — the
    * [[ArrayFitsConf]] fallback and the parity spec's reference
    * twin. */
  private[graft] def fitArma11FullFold(df: DataFrame, keyCols: Seq[String],
                                       ordCols: Seq[Column], valueCol: String,
                                       phiGrid: Seq[Double],
                                       thetaGrid: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = for (p <- phiGrid; t <- thetaGrid) yield (p, t)
    val keys = keyCols.map(col)
    val nP = pairs.size
    val pairArr = pairs.toArray
    val centered = centeredOnMu(df, keyCols, valueCol)
    val sseCols = pairs.indices.map(i => s"__sse$i")
    val epsCols = pairs.indices.map(i => s"__e$i")
    // series-end fold; flat primitive state [xp, (e_i, sse_i)*] mutated
    // in place — identical IEEE chain per pair, one output row per
    // series (the per-row form paid a 24-column boxed row per fact row
    // plus a descending sort)
    val last = keyedFoldLast[Array[Double]](
      centered, keyCols, ordCols, "__xc", sseCols ++ epsCols :+ "__xcn") {
      case (None, st) => st
      case (Some(xc), None) =>
        // first observation is conditioned on: ε_1 = 0, SSE starts at 0
        val a = new Array[Double](1 + 2 * nP)
        a(0) = xc
        Some(a)
      case (Some(xc), Some(a)) =>
        val xp = a(0)
        var i = 0
        while (i < nP) {
          val (ph, th) = pairArr(i)
          val e = xc - ph * xp - th * a(1 + 2 * i)
          a(1 + 2 * i) = e
          a(2 + 2 * i) += e * e
          i += 1
        }
        a(0) = xc
        Some(a)
    } { st =>
      val a = st.getOrElse(new Array[Double](1 + 2 * nP))
      // xc_n rides the STATE (a(0) = last non-null centered value), not
      // the emitted row's own __xc — a trailing NULL value row would
      // otherwise report xc_last = NULL while eps reflects the last
      // non-null observation (inconsistent forecast state)
      (pairs.indices.map(i => Some(a(2 + 2 * i))) ++
        pairs.indices.map(i => Some(a(1 + 2 * i)))) :+ st.map(_(0))
    }
    val longForm = last.select(keys ++ Seq(col("__mu"), col("__xcn")) :+
      explode(array(pairs.zipWithIndex.map {
        case ((ph, th), i) => struct(lit(ph).as("phi"), lit(th).as("theta"),
          col(s"__sse$i").as("sse"), col(s"__e$i").as("eps"))
      }: _*)).as("__p"): _*)
      .select(keys ++ Seq(col("__mu"), col("__xcn"),
        col("__p.phi").as("phi"), col("__p.theta").as("theta"),
        col("__p.sse").as("sse"), col("__p.eps").as("eps")): _*)
    val wPick = Window.partitionBy(keys: _*)
      .orderBy(col("sse"), col("phi"), col("theta"))
    longForm.withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(keys ++ Seq(col("phi").as("arma_phi"),
        col("theta").as("arma_theta"),
        graft.functions.Funcs.r(col("sse")).as("arma_sse"),
        col("__mu").as("arma_mu"),
        col("eps").as("arma_eps_last"),
        col("__xcn").as("arma_xc_last")): _*)
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
                     phiGrid: Seq[Double] = Seq(-0.5, 0.0, 0.5, 0.9),
                     thetaGrid: Seq[Double] = Seq(-0.4, 0.0, 0.4)): DataFrame = {
    import graft.functions.Funcs.r
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val base = fitArma11Full(df, keyCols, ordCols, valueCol, phiGrid, thetaGrid)
    val steps = (1 to h).foldLeft(Vector.empty[Column]) { (acc, s) =>
      val f =
        if (s == 1) r(col("arma_mu") + col("arma_phi") * col("arma_xc_last") +
          col("arma_theta") * col("arma_eps_last"))
        else r(col("arma_mu") + col("arma_phi") * (acc(s - 2) - col("arma_mu")))
      acc :+ f
    }
    base.select(keys :+ posexplode(array(steps: _*)).as(Seq("__p", "arma_forecast")): _*)
      .withColumn("step", (col("__p") + 1).cast("long"))
      .select(keys ++ Seq(col("step"), col("arma_forecast")): _*)
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
                       phiGrid: Seq[Double] = Seq(-0.5, 0.0, 0.5, 0.9),
                       thetaGrid: Seq[Double] = Seq(-0.4, 0.0, 0.4)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(ordCols: _*)
    val wd = Window.partitionBy(keys: _*).orderBy(ordCols.map(_.desc): _*)
    val dy = df.withColumn("__yraw", col(valueCol).cast("double"))
      .withColumn("__dy", col("__yraw") - lag(col("__yraw"), 1).over(w))
    val lastLevel = dy.withColumn("__rdL", row_number().over(wd))
      .filter(col("__rdL") === 1)
      .select(keys :+ col("__yraw").as("__yn"): _*)
    val diffed = dy.filter(col("__dy").isNotNull).drop("__yraw")
    val wcum = Window.partitionBy(keys: _*).orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    arma11Forecast(diffed, keyCols, ordCols, "__dy", h, phiGrid, thetaGrid)
      .join(lastLevel, keyCols)
      .withColumn("arima_forecast",
        graft.functions.Funcs.r(col("__yn") + sum(col("arma_forecast")).over(wcum)))
      .select(keys ++ Seq(col("step"), col("arima_forecast")): _*)
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
    * in ONE vectorized fold per series (both centered lags ride the
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
                    phi1Grid: Seq[Double] = Seq(-0.5, 0.0, 0.5, 0.9),
                    phi2Grid: Seq[Double] = Seq(-0.3, 0.0, 0.3),
                    thetaGrid: Seq[Double] = Seq(-0.4, 0.0, 0.4)): DataFrame = {
    require(phi1Grid.nonEmpty && phi2Grid.nonEmpty && thetaGrid.nonEmpty,
      "grids must be non-empty")
    if (arrayFits(df)) fitArma21FullArray(df, keyCols, ordCols, valueCol,
      phi1Grid, phi2Grid, thetaGrid)
    else fitArma21FullFold(df, keyCols, ordCols, valueCol,
      phi1Grid, phi2Grid, thetaGrid)
  }

  /** Array form of [[fitArma21Full]] ([[ArrayFitsConf]]): per triple,
    * state (xc₁, xc₂, nObs, nSse, ε, SSE) — the first TWO non-null
    * observations only shift the xc memory (ε = 0, no SSE term, the
    * fold's two-row conditioning); each later one applies
    *   ε' = xc − φ₁·xc₁ − φ₂·xc₂ − θ·ε ;  SSE' = SSE + ε'·ε'
    * with the xc memory shifting. xc₁ starts NULL (all-null series →
    * NULL xc_last), xc₂ starts 0.0 (the fold's array default — a
    * single-observation series reports xc_prev = 0.0). */
  private def fitArma21FullArray(df: DataFrame, keyCols: Seq[String],
                                 ordCols: Seq[Column], valueCol: String,
                                 phi1Grid: Seq[Double], phi2Grid: Seq[Double],
                                 thetaGrid: Seq[Double]): DataFrame = {
    val triples = for (p1 <- phi1Grid; p2 <- phi2Grid; t <- thetaGrid)
      yield Seq(p1, p2, t)
    val keys = keyCols.map(col)
    val fitted = gridArrayFit(df, keyCols, ordCols, valueCol, "arma21", triples)
    val b = col("__best")
    fitted.select(keys ++ Seq(b.getField("phi1").as("arma2_phi1"),
      b.getField("phi2").as("arma2_phi2"),
      b.getField("theta").as("arma2_theta"),
      graft.functions.Funcs.r(b.getField("sse")).as("arma2_sse"),
      b.getField("nsse").as("arma2_neff"),
      col("__mu").as("arma2_mu"),
      b.getField("e").as("arma2_eps_last"),
      b.getField("xcn").as("arma2_xc_last"),
      b.getField("xcp").as("arma2_xc_prev")): _*)
  }

  /** Pre-r18 streaming-fold form of [[fitArma21Full]] — the
    * [[ArrayFitsConf]] fallback and the parity spec's reference
    * twin. */
  private[graft] def fitArma21FullFold(df: DataFrame, keyCols: Seq[String],
                                       ordCols: Seq[Column], valueCol: String,
                                       phi1Grid: Seq[Double], phi2Grid: Seq[Double],
                                       thetaGrid: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val triples = for (p1 <- phi1Grid; p2 <- phi2Grid; t <- thetaGrid)
      yield (p1, p2, t)
    val keys = keyCols.map(col)
    val centered = centeredOnMu(df, keyCols, valueCol)
    val sseCols = triples.indices.map(i => s"__sse$i")
    val epsCols = triples.indices.map(i => s"__e$i")
    val nT = triples.size
    val tripleArr = triples.toArray
    // series-end fold; flat primitive state
    // [xp1, xp2, nObs, nSse, (e_i, sse_i)*] mutated in place. The
    // series-end state carries everything the pick needs: each
    // triple's ε_n and SSE, xc_n (slot 0) and xc_{n−1} (slot 1 after
    // the last update) and the SSE term count.
    val last = keyedFoldLast[Array[Double]](
      centered, keyCols, ordCols, "__xc",
      sseCols ++ epsCols ++ Seq("__xp1", "__nsse", "__xcn")) {
      case (None, st) => st
      case (Some(xc), None) =>
        // first observation: conditioned (ε_1 = 0, no SSE term)
        val a = new Array[Double](4 + 2 * nT)
        a(0) = xc
        a(2) = 1
        Some(a)
      case (Some(xc), Some(a)) =>
        if (a(2) == 1.0) {
          // second observation: still conditioned (ε_2 = 0, no SSE term)
          a(1) = a(0); a(0) = xc; a(2) = 2
        } else {
          val xp1 = a(0); val xp2 = a(1)
          var i = 0
          while (i < nT) {
            val (p1, p2, th) = tripleArr(i)
            val e = xc - p1 * xp1 - p2 * xp2 - th * a(4 + 2 * i)
            a(4 + 2 * i) = e
            a(5 + 2 * i) += e * e
            i += 1
          }
          a(1) = a(0); a(0) = xc; a(2) += 1; a(3) += 1
        }
        Some(a)
    } { st =>
      val a = st.getOrElse(new Array[Double](4 + 2 * nT))
      // xc_n rides the state (slot 0 = last non-null centered value) so
      // a trailing NULL value row can't desync xc_last from eps/xp1
      triples.indices.map(i => Some(a(5 + 2 * i))) ++
        triples.indices.map(i => Some(a(4 + 2 * i))) ++
        Seq(Some(a(1)), Some(a(3))) :+ st.map(_(0))
    }
    val longForm = last.select(keys ++ Seq(col("__mu"), col("__xcn"),
      col("__xp1"), col("__nsse")) :+
      explode(array(triples.zipWithIndex.map {
        case ((p1, p2, th), i) => struct(lit(p1).as("phi1"), lit(p2).as("phi2"),
          lit(th).as("theta"), col(s"__sse$i").as("sse"), col(s"__e$i").as("eps"))
      }: _*)).as("__p"): _*)
      .select(keys ++ Seq(col("__mu"), col("__xcn"), col("__xp1"), col("__nsse"),
        col("__p.phi1").as("phi1"), col("__p.phi2").as("phi2"),
        col("__p.theta").as("theta"),
        col("__p.sse").as("sse"), col("__p.eps").as("eps")): _*)
    // both engines fold the identical IEEE chain per triple: order by
    // RAW sse, round only the reported value
    val wPick = Window.partitionBy(keys: _*)
      .orderBy(col("sse"), col("phi1"), col("phi2"), col("theta"))
    longForm.withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(keys ++ Seq(col("phi1").as("arma2_phi1"),
        col("phi2").as("arma2_phi2"),
        col("theta").as("arma2_theta"),
        graft.functions.Funcs.r(col("sse")).as("arma2_sse"),
        col("__nsse").as("arma2_neff"),
        col("__mu").as("arma2_mu"),
        col("eps").as("arma2_eps_last"),
        col("__xcn").as("arma2_xc_last"),
        col("__xp1").as("arma2_xc_prev")): _*)
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
    import graft.functions.Funcs.r
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val steps = (1 to h).foldLeft(Vector.empty[Column]) { (acc, s) =>
      val f =
        if (s == 1) r(col("arma2_mu") + col("arma2_phi1") * col("arma2_xc_last") +
          col("arma2_phi2") * col("arma2_xc_prev") +
          col("arma2_theta") * col("arma2_eps_last"))
        else if (s == 2) r(col("arma2_mu") +
          col("arma2_phi1") * (acc(0) - col("arma2_mu")) +
          col("arma2_phi2") * col("arma2_xc_last"))
        else r(col("arma2_mu") +
          col("arma2_phi1") * (acc(s - 2) - col("arma2_mu")) +
          col("arma2_phi2") * (acc(s - 3) - col("arma2_mu")))
      acc :+ f
    }
    base.select(keys ++ Seq(col("arma2_phi1"), col("arma2_phi2"),
      col("arma2_theta"), col("arma2_sse")) :+
      posexplode(array(steps: _*)).as(Seq("__p", "arma2_forecast")): _*)
      .withColumn("step", (col("__p") + 1).cast("long"))
      .select(keys ++ Seq(col("arma2_phi1"), col("arma2_phi2"),
        col("arma2_theta"), col("arma2_sse"), col("step"),
        col("arma2_forecast")): _*)
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
                           keyCols: Seq[String], h: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val wcum = Window.partitionBy(keys: _*).orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    arma21ForecastFrom(base, keyCols, h)
      .join(lastLevel, keyCols)
      .withColumn("arima_forecast",
        graft.functions.Funcs.r(col("__yn") + sum(col("arma2_forecast")).over(wcum)))
      .select(keys ++ Seq(col("arma2_phi1"), col("arma2_phi2"),
        col("arma2_theta"), col("arma2_sse"), col("step"),
        col("arima_forecast")): _*)
  }

  /** ARMA(2,2) conditional-least-squares fit on the literal
    * (φ₁, φ₂, θ₁, θ₂) grid — the q = 2 extension of [[fitArma21Full]]
    * completing the reference's statsmodels-fallback order
    * (arima_temporal.py:341: a literal ARIMA(2,1,2)). Same recursion
    * conditioned at ε₁ = ε₂ = 0 with the first SSE term at the third
    * observation:
    *
    *   ε_t = xc_t − φ₁·xc_{t−1} − φ₂·xc_{t−2} − θ₁·ε_{t−1} − θ₂·ε_{t−2}
    *
    * folded once over the series per grid quadruple (flat primitive
    * state, 3 doubles per quadruple: ε_{t−1}, ε_{t−2}, SSE). Winner by
    * RAW sse with ties to the smallest (φ₁, φ₂, θ₁, θ₂); one row per
    * series: the winning quadruple, r(sse), the residual count
    * (n − 2), the exact micro-int mean, ε_n and ε_{n−1}, and
    * xc_n / xc_{n−1} — everything the forecast recursion needs. */
  def fitArma22Full(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                    valueCol: String,
                    phi1Grid: Seq[Double] = Seq(-0.5, 0.0, 0.5, 0.9),
                    phi2Grid: Seq[Double] = Seq(-0.3, 0.0, 0.3),
                    theta1Grid: Seq[Double] = Seq(-0.4, 0.0, 0.4),
                    theta2Grid: Seq[Double] = Seq(-0.3, 0.0, 0.3)): DataFrame = {
    require(phi1Grid.nonEmpty && phi2Grid.nonEmpty &&
      theta1Grid.nonEmpty && theta2Grid.nonEmpty, "grids must be non-empty")
    if (arrayFits(df)) fitArma22FullArray(df, keyCols, ordCols, valueCol,
      phi1Grid, phi2Grid, theta1Grid, theta2Grid)
    else fitArma22FullFold(df, keyCols, ordCols, valueCol,
      phi1Grid, phi2Grid, theta1Grid, theta2Grid)
  }

  /** Array form of [[fitArma22Full]] ([[ArrayFitsConf]]): per
    * quadruple, state (xc₁, xc₂, nObs, nSse, ε, ε₋₁, SSE) — the first
    * TWO non-null observations only shift the xc memory (the fold's
    * conditioning); each later one applies
    *   ε' = xc − φ₁·xc₁ − φ₂·xc₂ − θ₁·ε − θ₂·ε₋₁ ;  SSE' = SSE + ε'·ε'
    * with both memories shifting. Defaults as in
    * [[fitArma21FullArray]]. */
  private def fitArma22FullArray(df: DataFrame, keyCols: Seq[String],
                                 ordCols: Seq[Column], valueCol: String,
                                 phi1Grid: Seq[Double], phi2Grid: Seq[Double],
                                 theta1Grid: Seq[Double],
                                 theta2Grid: Seq[Double]): DataFrame = {
    val quads = for (p1 <- phi1Grid; p2 <- phi2Grid; t1 <- theta1Grid;
                     t2 <- theta2Grid) yield Seq(p1, p2, t1, t2)
    val keys = keyCols.map(col)
    val fitted = gridArrayFit(df, keyCols, ordCols, valueCol, "arma22", quads)
    val b = col("__best")
    fitted.select(keys ++ Seq(b.getField("phi1").as("arma22_phi1"),
      b.getField("phi2").as("arma22_phi2"),
      b.getField("theta1").as("arma22_theta1"),
      b.getField("theta2").as("arma22_theta2"),
      graft.functions.Funcs.r(b.getField("sse")).as("arma22_sse"),
      b.getField("nsse").as("arma22_neff"),
      col("__mu").as("arma22_mu"),
      b.getField("e").as("arma22_eps_last"),
      b.getField("ep").as("arma22_eps_prev"),
      b.getField("xcn").as("arma22_xc_last"),
      b.getField("xcp").as("arma22_xc_prev")): _*)
  }

  /** Pre-r18 streaming-fold form of [[fitArma22Full]] — the
    * [[ArrayFitsConf]] fallback and the parity spec's reference
    * twin. */
  private[graft] def fitArma22FullFold(df: DataFrame, keyCols: Seq[String],
                                       ordCols: Seq[Column], valueCol: String,
                                       phi1Grid: Seq[Double], phi2Grid: Seq[Double],
                                       theta1Grid: Seq[Double],
                                       theta2Grid: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quads = for (p1 <- phi1Grid; p2 <- phi2Grid; t1 <- theta1Grid;
                     t2 <- theta2Grid) yield (p1, p2, t1, t2)
    val keys = keyCols.map(col)
    val centered = centeredOnMu(df, keyCols, valueCol)
    val sseCols = quads.indices.map(i => s"__sse$i")
    val epsCols = quads.indices.map(i => s"__e$i")
    val epsPrevCols = quads.indices.map(i => s"__ep$i")
    val nQ = quads.size
    val quadArr = quads.toArray
    // series-end fold; flat primitive state
    // [xp1, xp2, nObs, nSse, (e_i, ep_i, sse_i)*] mutated in place;
    // slot 0 holds xc_n, slot 1 holds xc_{n−1}.
    val last = keyedFoldLast[Array[Double]](
      centered, keyCols, ordCols, "__xc",
      sseCols ++ epsCols ++ epsPrevCols ++ Seq("__xp1", "__nsse", "__xcn")) {
      case (None, st) => st
      case (Some(xc), None) =>
        // first observation: conditioned (ε_1 = 0, no SSE term)
        val a = new Array[Double](4 + 3 * nQ)
        a(0) = xc
        a(2) = 1
        Some(a)
      case (Some(xc), Some(a)) =>
        if (a(2) == 1.0) {
          // second observation: still conditioned (ε_2 = 0, no SSE term)
          a(1) = a(0); a(0) = xc; a(2) = 2
        } else {
          val xp1 = a(0); val xp2 = a(1)
          var i = 0
          while (i < nQ) {
            val (p1, p2, t1, t2) = quadArr(i)
            val e = xc - p1 * xp1 - p2 * xp2 - t1 * a(4 + 3 * i) - t2 * a(5 + 3 * i)
            a(5 + 3 * i) = a(4 + 3 * i)
            a(4 + 3 * i) = e
            a(6 + 3 * i) += e * e
            i += 1
          }
          a(1) = a(0); a(0) = xc; a(2) += 1; a(3) += 1
        }
        Some(a)
    } { st =>
      val a = st.getOrElse(new Array[Double](4 + 3 * nQ))
      // xc_n rides the state (slot 0 = last non-null centered value) so
      // a trailing NULL value row can't desync xc_last from eps/xp1
      quads.indices.map(i => Some(a(6 + 3 * i))) ++
        quads.indices.map(i => Some(a(4 + 3 * i))) ++
        quads.indices.map(i => Some(a(5 + 3 * i))) ++
        Seq(Some(a(1)), Some(a(3))) :+ st.map(_(0))
    }
    val longForm = last.select(keys ++ Seq(col("__mu"), col("__xcn"),
      col("__xp1"), col("__nsse")) :+
      explode(array(quads.zipWithIndex.map {
        case ((p1, p2, t1, t2), i) => struct(lit(p1).as("phi1"),
          lit(p2).as("phi2"), lit(t1).as("theta1"), lit(t2).as("theta2"),
          col(s"__sse$i").as("sse"), col(s"__e$i").as("eps"),
          col(s"__ep$i").as("epsp"))
      }: _*)).as("__p"): _*)
      .select(keys ++ Seq(col("__mu"), col("__xcn"), col("__xp1"), col("__nsse"),
        col("__p.phi1").as("phi1"), col("__p.phi2").as("phi2"),
        col("__p.theta1").as("theta1"), col("__p.theta2").as("theta2"),
        col("__p.sse").as("sse"), col("__p.eps").as("eps"),
        col("__p.epsp").as("epsp")): _*)
    // both engines fold the identical IEEE chain per quadruple: order
    // by RAW sse, round only the reported value
    val wPick = Window.partitionBy(keys: _*)
      .orderBy(col("sse"), col("phi1"), col("phi2"), col("theta1"), col("theta2"))
    longForm.withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(keys ++ Seq(col("phi1").as("arma22_phi1"),
        col("phi2").as("arma22_phi2"),
        col("theta1").as("arma22_theta1"),
        col("theta2").as("arma22_theta2"),
        graft.functions.Funcs.r(col("sse")).as("arma22_sse"),
        col("__nsse").as("arma22_neff"),
        col("__mu").as("arma22_mu"),
        col("eps").as("arma22_eps_last"),
        col("epsp").as("arma22_eps_prev"),
        col("__xcn").as("arma22_xc_last"),
        col("__xp1").as("arma22_xc_prev")): _*)
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
    import graft.functions.Funcs.r
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val steps = (1 to h).foldLeft(Vector.empty[Column]) { (acc, s) =>
      val f =
        if (s == 1) r(col("arma22_mu") + col("arma22_phi1") * col("arma22_xc_last") +
          col("arma22_phi2") * col("arma22_xc_prev") +
          col("arma22_theta1") * col("arma22_eps_last") +
          col("arma22_theta2") * col("arma22_eps_prev"))
        else if (s == 2) r(col("arma22_mu") +
          col("arma22_phi1") * (acc(0) - col("arma22_mu")) +
          col("arma22_phi2") * col("arma22_xc_last") +
          col("arma22_theta2") * col("arma22_eps_last"))
        else r(col("arma22_mu") +
          col("arma22_phi1") * (acc(s - 2) - col("arma22_mu")) +
          col("arma22_phi2") * (acc(s - 3) - col("arma22_mu")))
      acc :+ f
    }
    base.select(keys ++ Seq(col("arma22_phi1"), col("arma22_phi2"),
      col("arma22_theta1"), col("arma22_theta2"), col("arma22_sse")) :+
      posexplode(array(steps: _*)).as(Seq("__p", "arma22_forecast")): _*)
      .withColumn("step", (col("__p") + 1).cast("long"))
      .select(keys ++ Seq(col("arma22_phi1"), col("arma22_phi2"),
        col("arma22_theta1"), col("arma22_theta2"), col("arma22_sse"),
        col("step"), col("arma22_forecast")): _*)
  }

  /** The ARIMA(2,1,2) integration tail over an ALREADY-BUILT
    * [[fitArma22Full]]-on-first-differences table plus the
    * last-observed-level frame (keys..., `__yn`) — the reference's
    * statsmodels-fallback order (arima_temporal.py:341) by the exact
    * [[arima211ForecastFrom]] integration chain. */
  def arima212ForecastFrom(base: DataFrame, lastLevel: DataFrame,
                           keyCols: Seq[String], h: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(h >= 1, "horizon must be at least 1")
    val keys = keyCols.map(col)
    val wcum = Window.partitionBy(keys: _*).orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    arma22ForecastFrom(base, keyCols, h)
      .join(lastLevel, keyCols)
      .withColumn("arima_forecast",
        graft.functions.Funcs.r(col("__yn") + sum(col("arma22_forecast")).over(wcum)))
      .select(keys ++ Seq(col("arma22_phi1"), col("arma22_phi2"),
        col("arma22_theta1"), col("arma22_theta2"), col("arma22_sse"),
        col("step"), col("arima_forecast")): _*)
  }

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
    val key = keyCols.map(col)
    val holt = withHolt(df, keyCols, ordCols, valueCol, alpha, beta)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key: _*).orderBy(ordCols.map(_.desc): _*)
    val last = holt
      .withColumn("__rd", row_number().over(w)).filter(col("__rd") === 1)
      .filter(col("holt_trend").isNotNull)
      .select(key ++ Seq(r(col("holt_level")).as("__l"),
        r(col("holt_trend")).as("__b")): _*)
    val steps = dampedSteps(col("__l"), col("__b"), phi, h).zipWithIndex.map {
      case (f, i) => struct(lit(i + 1L).as("step"), f.as("holt_forecast"))
    }
    last.select(key :+ explode(array(steps: _*)).as("__s"): _*)
      .select(key ++ Seq(col("__s.step"), col("__s.holt_forecast")): _*)
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
    val key = keyCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key: _*).orderBy(ordCols.map(_.desc): _*)
    val hw = withHoltWinters(df, keyCols, ordCols, valueCol, alpha, beta, gamma, m)
      .withColumn("__rd", row_number().over(w))
    val last = hw.filter(col("__rd") === 1)
      .select(key ++ Seq(r(col("hw_level")).as("__l"),
        r(col("hw_trend")).as("__b")): _*)
    // desc rank rd maps to forecast step s = m − rd + 1 (row n+s−m)
    val seas = hw.filter(col("__rd") <= m && col("__rd") >= m - h + 1)
      .select(key ++ Seq((lit(m) - col("__rd") + 1).cast("int").as("step"),
        r(col("hw_seasonal")).as("__s")): _*)
    last.select(key ++ Seq(col("__l"), col("__b"),
        explode(sequence(lit(1), lit(h))).as("step")): _*)
      .join(seas, keyCols :+ "step", "left")
      .select(key ++ Seq(col("step").cast("long").as("step"),
        r(col("__l") + col("step") * col("__b") +
          coalesce(col("__s"), lit(0.0))).as("hw_forecast")): _*)
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
