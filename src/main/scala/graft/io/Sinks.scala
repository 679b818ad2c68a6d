package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Output sinks S6-S8 (SURVEY §2.1): parquet feature-store writes, the
  * `;`-separated UTF-8 submission CSV, validated as read back, and
  * CSV/JSON metadata sinks (reference: src/data/load_data.py:128-133,
  * generate_submission_with_trained_model.py:222-243,
  * src/features/feature_pipeline.py:470-585).
  */
object Sinks {

  /** S6 — parquet sink (snappy default). `partitionByCols` enables
    * partition pruning for downstream readers — the 100 TB layout lever. */
  def parquet(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w).parquet(path)
  }

  /** S7 — submission CSV: `;` separator, UTF-8, header, single file
    * (the submission contract wants ONE file — coalesce(1) is correct
    * here because the submission grid is dimension-sized, never
    * fact-sized). The file is read back and gated by
    * [[SubmissionValidator.isValid]]: an invalid file fails the call
    * with its path. Returns the validated read-back.
    *
    * The read-back infers its schema rather than declaring the four
    * columns: the inferred type of `quantidade` depends on the data (int
    * when every value fits, long when a forecast exceeds 2^31), and the
    * returned frame carries it. A declared INT schema fails on the long
    * values; a declared BIGINT one changes the returned type wherever
    * every value fits an int. */
  def csvSubmission(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("sep", ";").option("header", "true").option("encoding", "UTF-8")
      .csv(path)
    val back = spark.read.option("sep", ";").option("header", "true")
      .option("inferSchema", "true").csv(path)
    require(SubmissionValidator.isValid(back), s"submission failed validation: $path")
    back
  }

  /** S8 — metadata sinks: a small stats DataFrame as CSV, and scalar
    * metadata as a single-row JSON. */
  def metadataCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def metadataJson(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)
}
