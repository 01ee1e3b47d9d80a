package graft.pipeline

import graft.functions.EmaRunning
import graft.model.FeaturesConfig
import graft.ops.{FeatureOps, TimeCodec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** The flagship feature pipeline — the Spark-native re-expression of the
  * reference's per-bar dataflow (`OnBarUpdate` → `FeaturesBarService` →
  * `FeaturesBarCreator`, SURVEY.md §3.2):
  *
  *   events → day bars (O1/O2) → EMA9/EMA21 (O7) → trailing-21 feature
  *   rings (O5/O6) → 7 `F_*` features (O8-O13) → warm-up filter (O3) →
  *   14-column ordinal-sorted output (O20 schema discipline).
  *
  * One pass per series, as the reference computes it (`FeaturesBarService.cs:
  * 22-55` over the `CircularBuffer.cs:30-52` rings): the pruned events
  * (user_id, µs time, value) are hash-exchanged on user_id once, sorted by
  * time inside each partition, and a [[Series]] kernel streams each bar out
  * as its day closes. It holds only the open bar, two running EMAs and two
  * EMA rings of capacity barsRequiredToTrade + 1, never a whole series.
  * `streaming.StreamFeatures` drives the same kernel from its group state,
  * so batch and streaming share one implementation of every feature.
  */
object Features {

  /** One kernel input event: series key, µs since the epoch, price. */
  final case class Ev(user_id: Long, micros: Long, value: Double)

  /** One `enriched` row: the UTC day bar, both EMAs, the warm-up row number
    * and the seven unrounded features.
    */
  final case class Bar(
      user_id: Long, day: Long, time: Long, open: Double, high: Double, low: Double,
      close: Double, volume: Long, ema_fast: Double, ema_slow: Double, rn: Int,
      f_clv: Double, f_olv: Double, f_ma_dist: Double, f_ma_dist_slow: Double,
      f_ma_slope: Double, f_ma_ac: Double, f_ma_ac_slow: Double)

  /** Per-series kernel state: the open day bar (none while `volume == 0`),
    * both running EMAs after `rn` closed bars, and the two EMA rings (oldest
    * value at `head`, `len` values). Mutated in place by `add`/`commit`.
    */
  final case class Series(
      var epochDay: Long, var lastMicros: Long,
      var open: Double, var high: Double, var low: Double, var close: Double, var volume: Long,
      var emaFast: Double, var emaSlow: Double, var rn: Int,
      ringFast: Array[Double], ringSlow: Array[Double], var head: Int, var len: Int) {

    /** Feed the next event in time order; returns the bar it closed, or
      * null. High/low compare as Spark's max/min do (NaN greatest).
      */
    def add(userId: Long, e: Ev, cfg: FeaturesConfig): Bar = {
      val d = TimeCodec.epochDay(e.micros)
      val closed = if (volume > 0 && d != epochDay) commit(userId, cfg) else null
      if (volume == 0) {
        epochDay = d; open = e.value; high = e.value; low = e.value
      } else {
        if (SQLOrderingUtil.compareDoubles(e.value, high) > 0) high = e.value
        if (SQLOrderingUtil.compareDoubles(e.value, low) < 0) low = e.value
      }
      close = e.value
      lastMicros = e.micros
      volume += 1
      closed
    }

    /** Close the open bar: step both EMAs, push them into the rings, and
      * return the bar with its features (`FeaturesBarService.cs:40-47`).
      */
    def commit(userId: Long, cfg: FeaturesConfig): Bar = {
      val tol = cfg.tolerance
      if (rn == 0) { emaFast = close; emaSlow = close }
      else {
        emaFast = EmaRunning.step(emaFast, close, EmaRunning.k(cfg.lookbackFast))
        emaSlow = EmaRunning.step(emaSlow, close, EmaRunning.k(cfg.lookbackSlow))
      }
      val cap = ringFast.length
      val slot = if (len < cap) { len += 1; (head + len - 1) % cap }
      else { val h = head; head = (head + 1) % cap; h }
      ringFast(slot) = emaFast
      ringSlow(slot) = emaSlow
      rn += 1
      val bar = Bar(
        userId, TimeCodec.dayCode(epochDay), TimeCodec.timeCode(lastMicros),
        open, high, low, close, volume, emaFast, emaSlow, rn,
        FeatureOps.clv(close, high, low, tol),
        FeatureOps.olv(open, high, low, tol),
        FeatureOps.maDistance(close, emaFast, tol),
        FeatureOps.maDistance(close, emaSlow, tol),
        FeatureOps.slopePct(ringFast(head), emaFast, len, tol),
        autocorr(ringFast, tol),
        autocorr(ringSlow, tol)
      )
      volume = 0
      bar
    }

    /** Lag-1 autocorrelation of a ring, oldest first — the loop order of
      * `FoldExpressions.AutocorrLag1.eval`, hence the same doubles.
      */
    private def autocorr(r: Array[Double], tol: Double): Double = {
      val n = len
      if (n <= 1) return 0.0
      def at(i: Int) = r((head + i) % r.length)
      var s = 0.0
      var i = 0
      while (i < n) { s = s + at(i); i += 1 }
      val mu = s / n
      var num = 0.0
      i = 1
      while (i < n) { num = num + (at(i) - mu) * (at(i - 1) - mu); i += 1 }
      var den = 0.0
      i = 0
      while (i < n) { val d = at(i) - mu; den = den + d * d; i += 1 }
      if (math.abs(den) < tol) 0.0 else num / den
    }

    /** A copy with its own rings, to close the open bar without
      * committing it.
      */
    def snapshot: Series = copy(ringFast = ringFast.clone(), ringSlow = ringSlow.clone())
  }

  object Series {
    def empty(cfg: FeaturesConfig): Series = {
      val cap = cfg.barsRequiredToTrade + 1
      Series(0L, 0L, 0.0, 0.0, 0.0, 0.0, 0L, 0.0, 0.0, 0, new Array(cap), new Array(cap), 0, 0)
    }
  }

  /** The kernel's input columns, named as [[Ev]]. */
  def kernelInput(events: DataFrame): DataFrame =
    events.select(col("user_id"), unix_micros(col("ts")).as("micros"), col("value"))

  /** Every bar of one series from its time-ordered events, lazily. */
  private def series(cfg: FeaturesConfig)(userId: Long, evs: Iterator[Ev]): Iterator[Bar] = {
    val s = Series.empty(cfg)
    evs.flatMap(e => Option(s.add(userId, e, cfg))) ++
      (if (s.volume > 0) Iterator.single(s.commit(userId, cfg)) else Iterator.empty)
  }

  /** Full enriched frame, one row per day bar: every bar column, both EMAs
    * (running from the series start, not day-reset — the reference's EMA
    * indicators run over the raw series, `StrategyAnalyzerExporter.cs:
    * 138-139`, SURVEY.md §2.4.3), all seven features unrounded, and the
    * warm-up row number `rn`. Downstream queries filter/project.
    */
  def enriched(events: DataFrame, cfg: FeaturesConfig = FeaturesConfig()): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    kernelInput(events)
      .groupBy(col("user_id"))
      .as[Long, Ev]
      .flatMapSortedGroups(col("micros"))(series(cfg))
      .toDF()
  }

  /** Bars + both EMAs — a projection of `enriched`. */
  def barsWithEma(events: DataFrame, cfg: FeaturesConfig = FeaturesConfig()): DataFrame =
    enriched(events, cfg)
      .select("user_id", "day", "time", "open", "high", "low", "close", "volume", "ema_fast", "ema_slow")

  /** The `FeaturesBar` output in the reference's dynamic-schema column
    * order (ordinal sort of property names, `DatabaseWriter.cs:222-225`),
    * doubles rounded to 6 decimals for oracle parity. Warm-up: emit once
    * the per-series buffer holds ≥ barsRequiredToTrade rows
    * (`FeaturesBarService.cs:44`).
    */
  def featuresFull(
      events: DataFrame,
      cfg: FeaturesConfig = FeaturesConfig(),
      ordered: Boolean = true
  ): DataFrame = {
    val out = featuresBar(enriched(events, cfg), cfg)
    // The sort exists for oracle determinism; sinks skip it (a global sort
    // before a write is a pure range-exchange tax — and the write path
    // executes the plan twice: once to sample range bounds, once to write).
    if (ordered) out.orderBy("user_id", "Day") else out
  }

  /** featuresFull's warm-up filter and projection over an enriched frame,
    * batch or streaming.
    */
  def featuresBar(enriched: DataFrame, cfg: FeaturesConfig): DataFrame = {
    def r6(c: String) = FeatureOps.r6(col(c))
    enriched
      .filter(col("rn") >= cfg.barsRequiredToTrade)
      .select(
        col("user_id"),
        col("close").as("Close"),
        col("day").as("Day"),
        r6("f_clv").as("F_CloseLocationValue"),
        r6("f_ma_ac").as("F_MovingAverageAutocorrelation"),
        r6("f_ma_dist").as("F_MovingAverageDistance"),
        r6("f_ma_slope").as("F_MovingAverageSlope"),
        r6("f_ma_ac_slow").as("F_MovingAverageSlowAutocorrelation"),
        r6("f_ma_dist_slow").as("F_MovingAverageSlowDistance"),
        r6("f_olv").as("F_OpenLocationValue"),
        col("high").as("High"),
        col("low").as("Low"),
        col("open").as("Open"),
        col("time").as("Time"),
        col("volume").cast("double").as("Volume")
      )
  }

  /** The exported FeaturesBar schema after the sink's float32 downcast —
    * the STATIC column contract (property list mirrors `FeaturesBar.cs:
    * 3-51`; integer codes stay BIGINT per `DatabaseWriter.cs:198-202`).
    * The s01 DDL oracle pins `DuckDbSink.ddlFor` of exactly this schema,
    * so a drift between the pipeline's output and the declared contract
    * surfaces as a hash mismatch, not silently.
    */
  val featuresF32Schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      Seq(
        StructField("user_id", LongType),
        StructField("Close", FloatType),
        StructField("Day", LongType),
        StructField("F_CloseLocationValue", FloatType),
        StructField("F_MovingAverageAutocorrelation", FloatType),
        StructField("F_MovingAverageDistance", FloatType),
        StructField("F_MovingAverageSlope", FloatType),
        StructField("F_MovingAverageSlowAutocorrelation", FloatType),
        StructField("F_MovingAverageSlowDistance", FloatType),
        StructField("F_OpenLocationValue", FloatType),
        StructField("High", FloatType),
        StructField("Low", FloatType),
        StructField("Open", FloatType),
        StructField("Time", LongType),
        StructField("Volume", FloatType)
      )
    )
  }

  /** featuresFull with the reference sink's float32 downcast
    * (`DatabaseWriter.cs:198-202,310`, `UseFloat32=true` default — ~50%
    * storage, README.md:68). Integer codes stay BIGINT.
    */
  def featuresF32(events: DataFrame, cfg: FeaturesConfig = FeaturesConfig()): DataFrame = {
    val df = featuresFull(events, cfg)
    df.select(df.columns.map { c =>
      if (Set("user_id", "Day", "Time").contains(c)) col(c) else col(c).cast("float").as(c)
    }.toIndexedSeq: _*)
  }
}
