package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Integer time codecs matching the reference's NinjaTrader built-ins
  * (`ToTime(DateTime) -> int HHmmss`, `ToDay(DateTime) -> int yyyyMMdd`,
  * used at `StrategyAnalyzerExporter.cs:191,207-208`).
  *
  * Emitted as LongType so every integer output column of the engine has one
  * type (BIGINT) on both the Spark and DuckDB oracle sides.
  */
object TimeCodec {

  /** yyyyMMdd code. Oracle mirror:
    * `CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS BIGINT)`.
    */
  def dayInt(ts: Column): Column =
    (year(ts) * 10000 + month(ts) * 100 + dayofmonth(ts)).cast("long")

  /** HHmmss code. Oracle mirror:
    * `CAST(hour(ts)*10000 + minute(ts)*100 + second(ts) AS BIGINT)`.
    */
  def timeInt(ts: Column): Column =
    (hour(ts) * 10000 + minute(ts) * 100 + second(ts)).cast("long")

  private val MicrosPerDay = 86400000000L

  /** UTC epoch day of a µs-since-epoch instant — the feature kernel's bar key. */
  def epochDay(micros: Long): Long = Math.floorDiv(micros, MicrosPerDay)

  /** yyyyMMdd of a UTC epoch day — the scalar twin of `dayInt`. */
  def dayCode(epochDay: Long): Long = {
    val d = java.time.LocalDate.ofEpochDay(epochDay)
    d.getYear * 10000L + d.getMonthValue * 100L + d.getDayOfMonth
  }

  /** HHmmss of a µs-since-epoch instant in UTC — the scalar twin of `timeInt`. */
  def timeCode(micros: Long): Long = {
    val s = Math.floorMod(micros, MicrosPerDay) / 1000000L
    s / 3600 * 10000L + s / 60 % 60 * 100L + s % 60
  }
}
