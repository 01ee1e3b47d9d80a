package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Bar formation and the shared window specs of the feature pipeline.
  *
  * The reference receives already-formed bars from its host (one
  * `OnBarUpdate` callback per closed bar, `StrategyAnalyzerExporter.cs:
  * 179-182`); bar formation is upstream. Our engine forms bars from the
  * `events` stream table (`user_id` ↔ instrument series, `ts` ↔ time,
  * `value` ↔ price — SURVEY.md §2.3) with a tumbling calendar-day window:
  * the test events are sparse (~2.5/user/day), so day grain is the finest
  * that yields multi-event bars and enough bars per series for the 20-bar
  * warm-up (SURVEY.md §2.4 grain adaptation).
  *
  * Scale note: the groupBy shuffles once on (user_id, day) — embarrassingly
  * parallel across series×days at 100 TB; AQE handles per-series skew.
  */
object BarOps {

  /** Tumbling day bars per series. open/close via min_by/max_by on ts
    * (deterministic: ts is unique per user in the test tables; real feeds
    * would tie-break on a sequence column).
    *
    * Output: user_id, day (yyyyMMdd), time (HHmmss of last event), open,
    * high, low, close, volume(count).
    */
  def dayBars(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy($"user_id", TimeCodec.dayInt($"ts").as("day"))
      .agg(
        TimeCodec.timeInt(max($"ts")).as("time"),
        min_by($"value", $"ts").as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", $"ts").as("close"),
        count(lit(1)).as("volume")
      )
  }

  /** Per-series bar ordering — one hash exchange on user_id, shared by
    * the windows of the bar queries built on it.
    */
  def wSeries: WindowSpec = Window.partitionBy("user_id").orderBy("day")

  /** Trailing feature buffer frame — capacity barsRequiredToTrade+1 = 21
    * rows, mirroring the reference ring buffers (`FeaturesBarService.cs:
    * 22-26`, `CircularBuffer.cs:30-37`).
    */
  def wBuf(barsRequired: Int): WindowSpec =
    wSeries.rowsBetween(-barsRequired, 0)
}
