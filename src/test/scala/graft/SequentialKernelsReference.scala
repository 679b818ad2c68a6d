package graft

import org.apache.spark.sql.{Column, DataFrame}
import graft.seq.SequentialKernels.keyedFold

/** Parity reference for the running-window kernels of
  * [[graft.seq.SequentialKernels]]: the streaming-fold forms of EWMA,
  * EWM mean/variance, Holt, Croston/SBA and TSB that the native window
  * aggregates replaced, kept verbatim on the shared
  * `SequentialKernels.keyedFold` (one series repartition, a sort within
  * partitions, then a fold over the sorted iterator). Each takes the
  * same arguments as its window twin; SequentialKernelsSpec pins every
  * window form to its fold here row for row. */
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
}
