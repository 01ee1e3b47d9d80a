package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure column-expression feature functions — the reference's scalar
  * feature layer re-expressed as Catalyst expressions (whole-stage
  * codegen'd; no UDFs).
  *
  * Guard semantics follow the reference exactly; every guard returns 0.0
  * rather than null/NaN (reference `Common.cs`, `Price.cs`,
  * `MovingAverage.cs`).
  */
object FeatureOps {

  /** Deterministic 6-decimal rounding: `floor(x*1e6 + 0.5)/1e6`. Used
    * instead of plain round(x, 6) everywhere an output is oracle-compared:
    * Spark's round (BigDecimal HALF_UP over the shortest decimal repr) and
    * DuckDB's round (C `round(x*1e6)/1e6`) disagree on exact ties like
    * 0.5186875, while this formula is the same three IEEE-754 ops on both
    * engines — bit-identical whenever the input double is bit-identical.
    * Oracle mirror: `floor(x * 1e6 + 5e-1) / 1e6` (OracleSql.r6).
    */
  def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Close Location Value — reference `Price.cs:24-30`:
    * `(2*close - high - low) / (high - low)`, 0.0 when range < tol.
    * In [-1, 1] whenever the range guard passes.
    */
  def clv(close: Column, high: Column, low: Column, tol: Double = 1e-6): Column =
    when(high - low < lit(tol), lit(0.0))
      .otherwise((lit(2.0) * close - high - low) / (high - low))

  /** Scalar twin of `clv` — the feature kernel's form, same IEEE ops. */
  def clv(close: Double, high: Double, low: Double, tol: Double): Double =
    if (high - low < tol) 0.0 else (2.0 * close - high - low) / (high - low)

  /** Open Location Value — reference `Price.cs:32-38`. */
  def olv(open: Column, high: Column, low: Column, tol: Double = 1e-6): Column =
    when(high - low < lit(tol), lit(0.0))
      .otherwise((lit(2.0) * open - high - low) / (high - low))

  /** Scalar twin of `olv`. */
  def olv(open: Double, high: Double, low: Double, tol: Double): Double =
    if (high - low < tol) 0.0 else (2.0 * open - high - low) / (high - low)

  /** Distance of close from a moving average, in percent — reference
    * `MovingAverage.cs:35-48`: `((close - ma)/ma)*100`, 0.0 when ma or
    * close is NaN/Inf or |ma| < tol.
    */
  def maDistance(close: Column, ma: Column, tol: Double = 1e-6): Column =
    when(
      isnan(ma) || isnan(close) ||
        abs(ma) === lit(Double.PositiveInfinity) ||
        abs(close) === lit(Double.PositiveInfinity) ||
        abs(ma) < lit(tol),
      lit(0.0)
    ).otherwise((close - ma) / ma * lit(100.0))

  /** Scalar twin of `maDistance`. */
  def maDistance(close: Double, ma: Double, tol: Double): Double =
    if (ma.isNaN || close.isNaN || ma.isInfinite || close.isInfinite || math.abs(ma) < tol) 0.0
    else (close - ma) / ma * 100.0

  /** Slope as percent change first→last over an ordered frame — reference
    * `Common.cs:14-27`: `((last - first)/first)*100`, 0.0 when n < 2 or
    * |first| < tol. We implement the documented intent with tol = 1e-6; the
    * reference call site accidentally passes 14.0 as the tolerance
    * (`MovingAverage.cs:30`, recorded deviation SURVEY.md §2.4.1) — callers
    * can reproduce that by passing tol = 14.0.
    */
  def slopePct(first: Column, last: Column, n: Column, tol: Double = 1e-6): Column =
    when(n < 2 || abs(first) < lit(tol), lit(0.0))
      .otherwise((last - first) / first * lit(100.0))

  /** Scalar twin of `slopePct`. */
  def slopePct(first: Double, last: Double, n: Int, tol: Double): Double =
    if (n < 2 || math.abs(first) < tol) 0.0 else (last - first) / first * 100.0

  /** Clamp — reference `Common.cs:8-11` (`max(min(v, max), min)`). */
  def clamp(v: Column, lo: Double, hi: Double): Column =
    greatest(least(v, lit(hi)), lit(lo))
}
