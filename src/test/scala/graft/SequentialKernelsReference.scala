package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.seq.SequentialKernels.{centeredOnMu, keyedFold, keyedFoldLast}

/** Parity reference for the running-window kernels of
  * [[graft.seq.SequentialKernels]]: the streaming-fold forms of EWMA,
  * EWM mean/variance, Holt, Croston/SBA and TSB that the native window
  * aggregates replaced, kept verbatim on the shared
  * `SequentialKernels.keyedFold` (one series repartition, a sort within
  * partitions, then a fold over the sorted iterator). Each takes the
  * same arguments as its window twin; SequentialKernelsSpec pins every
  * window form to its fold here row for row.
  *
  * It also keeps the independent reference of the MA/ARMA grid fits:
  * the five streaming-fold forms that preceded the one grid-fit kernel
  * ([[graft.expr.GridFitExpr]]), each with its own flat-array update
  * loop, explode and `row_number` pick window, on the shared
  * `SequentialKernels.keyedFoldLast` and `centeredOnMu`.
  * SequentialKernelsSpec pins both cell-feeding shapes of every fit to
  * its fold here, bit for bit. */
object SequentialKernelsReference {

  /** Fold form of `SequentialKernels.withEwma`. */
  def withEwmaFold(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
                   valueCol: String, alpha: Double, outCol: String): DataFrame =
    keyedFold[Double](df, keyCols, ordCols, valueCol, Seq(outCol)) {
      case (None, st) => (Seq(st), st)
      case (Some(x), None) => (Seq(Some(x)), Some(x))
      case (Some(x), Some(prev)) =>
        val y = alpha * x + (1 - alpha) * prev
        (Seq(Some(y)), Some(y))
    }

  /** Fold form of `SequentialKernels.withEwmVar`. */
  def withEwmVarFold(df: DataFrame, keyCols: Seq[String],
                     ordCols: Seq[Column], valueCol: String,
                     alpha: Double, meanCol: String = "ewm_mean",
                     varCol: String = "ewm_var"): DataFrame =
    keyedFold[(Double, Double)](df, keyCols, ordCols, valueCol,
      Seq(meanCol, varCol)) {
      case (None, st) => (Seq(st.map(_._1), st.map(_._2)), st)
      case (Some(x), None) => (Seq(Some(x), Some(0.0)), Some((x, 0.0)))
      case (Some(x), Some((m0, v0))) =>
        val m = (1 - alpha) * m0 + alpha * x
        val v = (1 - alpha) * (v0 + alpha * (x - m0) * (x - m0))
        (Seq(Some(m), Some(v)), Some((m, v)))
    }

  /** Fold form of `SequentialKernels.withHolt`. */
  def withHoltFold(df: DataFrame, keyCols: Seq[String],
                   ordCols: Seq[Column], valueCol: String,
                   alpha: Double, beta: Double,
                   levelCol: String = "holt_level",
                   trendCol: String = "holt_trend"): DataFrame =
    keyedFold[(Double, Option[Double], Double)](df, keyCols, ordCols, valueCol,
      Seq(levelCol, trendCol)) {
      // state = (level, trendOpt, lastRawValue)
      case (None, st) => (Seq(st.map(_._1), st.flatMap(_._2)), st)
      case (Some(x), None) =>
        (Seq(Some(x), None), Some((x, None, x)))
      case (Some(x), Some((lvl, tr, lastX))) =>
        val nl = alpha * x + (1 - alpha) * lvl
        val d = x - lastX
        val nt = tr match {
          case None => d
          case Some(t) => beta * d + (1 - beta) * t
        }
        (Seq(Some(nl), Some(nt)), Some((nl, Some(nt), x)))
    }

  /** Fold form of `SequentialKernels.withCroston`. */
  def withCrostonFold(df: DataFrame, keyCols: Seq[String],
                      ordCols: Seq[Column], valueCol: String,
                      alpha: Double, sba: Boolean = false,
                      outCol: String = "croston_forecast"): DataFrame = {
    val factor = if (sba) 1.0 - alpha / 2.0 else 1.0
    keyedFold[(Double, Double, Long)](df, keyCols, ordCols, valueCol, Seq(outCol)) {
      // state = (z, p, periodsSinceLastDemand)
      case (None, st) => (Seq(st.map { case (z, p, _) => factor * z / p }), st)
      case (Some(x), None) =>
        if (x > 0) (Seq(Some(factor * x / 1.0)), Some((x, 1.0, 0L)))
        else (Seq(None), None)
      case (Some(x), Some((z, p, gap))) =>
        if (x > 0) {
          val interval = (gap + 1).toDouble
          val nz = alpha * x + (1 - alpha) * z
          val np = alpha * interval + (1 - alpha) * p
          (Seq(Some(factor * nz / np)), Some((nz, np, 0L)))
        } else {
          (Seq(Some(factor * z / p)), Some((z, p, gap + 1)))
        }
    }
  }

  /** Fold form of `SequentialKernels.withTsb`. */
  def withTsbFold(df: DataFrame, keyCols: Seq[String],
                  ordCols: Seq[Column], valueCol: String,
                  alpha: Double, beta: Double,
                  outCol: String = "tsb_forecast"): DataFrame =
    keyedFold[(Double, Double)](df, keyCols, ordCols, valueCol, Seq(outCol)) {
      // state = (prob, size)
      case (None, st) => (Seq(st.map { case (b, z) => b * z }), st)
      case (Some(x), None) =>
        val b0 = if (x > 0) 1.0 else 0.0
        val z0 = if (x > 0) x else 0.0
        (Seq(Some(b0 * z0)), Some((b0, z0)))
      case (Some(x), Some((b, z))) =>
        val nb = beta * (if (x > 0) 1.0 else 0.0) + (1 - beta) * b
        val nz = if (x > 0) alpha * x + (1 - alpha) * z else z
        (Seq(Some(nb * nz)), Some((nb, nz)))
    }

  /** Streaming-fold form of `SequentialKernels.fitMa1Full`: the
    * per-grid-point state in one flat array, exploded to one row per
    * grid point and picked by a `row_number` window. */
  def fitMa1FullFold(df: DataFrame, keyCols: Seq[String],
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

  /** Streaming-fold form of `SequentialKernels.fitMa3Full`: the
    * per-grid-point state in one flat array, exploded to one row per
    * grid point and picked by a `row_number` window. */
  def fitMa3FullFold(df: DataFrame, keyCols: Seq[String],
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

  /** Streaming-fold form of `SequentialKernels.fitArma11Full`: the
    * per-grid-point state in one flat array, exploded to one row per
    * grid point and picked by a `row_number` window. */
  def fitArma11FullFold(df: DataFrame, keyCols: Seq[String],
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

  /** Streaming-fold form of `SequentialKernels.fitArma21Full`: the
    * per-grid-point state in one flat array, exploded to one row per
    * grid point and picked by a `row_number` window. */
  def fitArma21FullFold(df: DataFrame, keyCols: Seq[String],
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

  /** Streaming-fold form of `SequentialKernels.fitArma22Full`: the
    * per-grid-point state in one flat array, exploded to one row per
    * grid point and picked by a `row_number` window. */
  def fitArma22FullFold(df: DataFrame, keyCols: Seq[String],
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
}
