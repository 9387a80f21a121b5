package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-window aggregations shared by the batch parity queries (Q16/Q17)
  * and their Structured Streaming forms — one plan builder, two execution
  * modes. In streaming, pass `watermark` to [[tumbling]] or [[session]] so
  * state is bounded (SURVEY X3's late-data rule maps to the same
  * mechanism).
  */
object WindowedAggs {

  private def agged(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped.agg(count("*").as("cnt"), graft.functions.ScalarOps.r4(avg(col("value"))).as("avg_v"))

  private def maybeWatermark(events: DataFrame, watermark: Option[String]): DataFrame = {
    // normalize first: withWatermark rejects TIMESTAMP_NTZ event time
    val ev = graft.Engine.normalizeEventTime(events)
    watermark.fold(ev)(w => ev.withWatermark("ts", w))
  }

  /** 10-minute tumbling windows per (window, event_type) — Q16. */
  def tumbling(events: DataFrame, watermark: Option[String] = None): DataFrame =
    agged(maybeWatermark(events, watermark)
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type")))

  /** 10-minute windows sliding every 5 minutes — Q17a. */
  def sliding(events: DataFrame): DataFrame =
    agged(graft.Engine.normalizeEventTime(events)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type")))

  /** Session windows per user, 30-minute gap — Q17b. */
  def session(events: DataFrame, watermark: Option[String] = None): DataFrame =
    maybeWatermark(events, watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count("*").as("cnt"))

  /** Render for the deterministic parity output: window start formatted
    * with the canonical parity pattern (one definition — ScalarOps.TsFmt —
    * so the determinism contract can't drift per query). */
  def rendered(windowed: DataFrame, keyCol: String): DataFrame =
    windowed.select(
      date_format(col("w.start"), graft.functions.ScalarOps.TsFmt).as("wstart"),
      col(keyCol), col("cnt"), col("avg_v"))
}
