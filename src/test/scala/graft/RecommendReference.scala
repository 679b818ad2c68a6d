package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Funcs.r

/** Parity reference for [[graft.model.Recommend]]: the scoring tail it
  * replaced, kept verbatim. */
object RecommendReference {

  /** The pre-r17 all-pairs scoring tail of `Recommend.alsPortable`:
    * score every (user, item) pair, bounded-heap top-k per user (score
    * desc, id asc). Quadratic in entity count by construction;
    * R17OpsSpec pins `Recommend.mipsTopK` to it row for row. */
  def crossScoreTopK(users: DataFrame, items: DataFrame, k: Int,
                     userCol: String, itemCol: String): DataFrame =
    users.toDF("u", "x1", "x2")
      .crossJoin(broadcast(items.toDF("i", "y1", "y2")))
      .select(col("u"), col("i"),
        r(col("x1") * col("y1") + col("x2") * col("y2")).as("score"))
      .groupBy(col("u"))
      .agg(graft.expr.TopKPairsExpr.column(col("score"), col("i"), k).as("__top"))
      .select(col("u"), posexplode(col("__top")))
      .select(col("u").as(userCol), col("col.id").as(itemCol),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rank"))
}
