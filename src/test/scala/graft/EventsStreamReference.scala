package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parity reference for [[graft.streaming.EventsStream]]: the batch
  * aggregate StreamingSpec compares the streaming top-k against. */
object EventsStreamReference {

  /** Batch form of `EventsStream.windowedTopK` (no watermark). */
  def windowedTopKBatch(events: DataFrame, k: Int = 3,
                        windowDur: String = "7 days"): DataFrame =
    events.groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(graft.expr.TopKExpr.column(col("value"), k).as("top_values"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("top_values"))
}
