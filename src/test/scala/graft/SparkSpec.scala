package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM via Test/fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** `df` for a grid fit fed in the given shape
    * (`SequentialKernels.ArrayFitsConf`): itself for the packed-array
    * default, else its rows in a session set to the streaming fold. */
  def inFitsShape(df: DataFrame, arrayFits: Boolean): DataFrame =
    if (arrayFits) df
    else SparkSpec.streamingFits.createDataFrame(df.collectAsList(), df.schema)
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A session of [[session]] whose grid fits stream their cells. */
  lazy val streamingFits: SparkSession = {
    val s = session.newSession()
    s.conf.set(graft.seq.SequentialKernels.ArrayFitsConf, "false")
    s
  }
}
