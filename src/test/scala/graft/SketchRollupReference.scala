package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.SketchRollup.cmSlot

/** Parity reference for [[graft.operators.SketchRollup]]: the sketch
  * build it replaced, kept verbatim. */
object SketchRollupReference {

  /** The pre-r18 explode-form build of `SketchRollup.cmSketchTable`:
    * a depth-way explode and a slot-grain count aggregate. CmSketchSpec
    * pins the fixed-buffer build against it. */
  def cmSketchTableExplode(df: DataFrame, keyCols: Seq[String],
                           periodCol: Column, item: Column,
                           depth: Int, width: Int): DataFrame = {
    val rows = (0 until depth).map(j => struct(lit(j).as("row"),
      cmSlot(item.cast("long"), j, width).as("slot")))
    df.select(keyCols.map(col) :+ periodCol.as("period") :+
        explode(array(rows: _*)).as("__rs"): _*)
      .filter(col("__rs.slot").isNotNull) // NULL items are not counted
      .groupBy(keyCols.map(col) ++ Seq(col("period"), col("__rs.row").as("row"),
        col("__rs.slot").as("slot")): _*)
      .agg(count(lit(1)).as("cnt"))
  }
}
