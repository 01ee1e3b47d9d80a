package graft.oracle

/** DuckDB oracle SQL fragments that mirror the engine's FP-deterministic
  * folds (graft.ops.Folds) operation-for-operation, so both engines produce
  * bit-identical doubles (SURVEY.md §2.3 determinism conventions).
  *
  * Conventions used in every fragment:
  *   - double literals in `1e0` scientific form (DuckDB parses `1.0` as
  *     DECIMAL, whose arithmetic would diverge from IEEE doubles);
  *   - seed-first fold  = `list_reduce(l, λ)`            ↔ Folds.foldLR;
  *   - zero-seeded fold = `list_reduce(list_prepend(s,l), λ)` ↔ Folds.foldZ
  *     (also empty-safe: DuckDB's list_reduce errors on empty lists);
  *   - integer outputs CAST to BIGINT (Spark LongType everywhere).
  */
object OracleSql {

  /** Deterministic 6-decimal rounding ↔ FeatureOps.r6 — same three IEEE
    * ops on both engines; plain round() tie-breaks differently in Spark
    * (HALF_UP on decimal repr) vs DuckDB (C round).
    */
  def r6(e: String): String = s"floor(($e) * 1e6 + 5e-1) / 1e6"

  /** yyyyMMdd ↔ graft.ops.TimeCodec.dayInt */
  def dayInt(ts: String): String =
    s"CAST(year($ts)*10000 + month($ts)*100 + day($ts) AS BIGINT)"

  /** HHmmss ↔ graft.ops.TimeCodec.timeInt */
  def timeInt(ts: String): String =
    s"CAST(hour($ts)*10000 + minute($ts)*100 + second($ts) AS BIGINT)"

  /** Order-deterministic sum ↔ Folds.sumZ */
  def sumZ(l: String): String =
    s"list_reduce(list_prepend(0e0, $l), (a, b) -> a + b)"

  /** EMA seed-first fold ↔ Folds.emaLR. k spelled as a double division so
    * both engines compute the identical IEEE constant.
    */
  def ema(l: String, period: Int): String = {
    val p = s"${period + 1}e0"
    s"list_reduce($l, (acc, x) -> acc * (1e0 - 2e0/$p) + x * (2e0/$p))"
  }

  /** Lag-1 autocorrelation ↔ Folds.autocorrLag1 (tol fixed at 1e-6). */
  def autocorrLag1(l: String): String = {
    val mu = s"(${sumZ(l)} / len($l))"
    val num = sumZ(s"list_transform(generate_series(2, len($l)), i -> ($l[i] - $mu) * ($l[i-1] - $mu))")
    val den = sumZ(s"list_transform(generate_series(1, len($l)), i -> ($l[i] - $mu) * ($l[i] - $mu))")
    s"""CASE WHEN len($l) <= 1 THEN 0e0
       WHEN abs($den) < 1e-6 THEN 0e0
       ELSE $num / $den END"""
  }

  /** CLV ↔ FeatureOps.clv */
  def clv(close: String, high: String, low: String): String =
    s"CASE WHEN $high - $low < 1e-6 THEN 0e0 ELSE (2e0*$close - $high - $low) / ($high - $low) END"

  /** OLV ↔ FeatureOps.olv */
  def olv(open: String, high: String, low: String): String =
    s"CASE WHEN $high - $low < 1e-6 THEN 0e0 ELSE (2e0*$open - $high - $low) / ($high - $low) END"

  /** MA distance ↔ FeatureOps.maDistance */
  def maDistance(close: String, ma: String): String =
    s"""CASE WHEN isnan($ma) OR isnan($close) OR isinf($ma) OR isinf($close)
       OR abs($ma) < 1e-6 THEN 0e0 ELSE ($close - $ma) / $ma * 100e0 END"""

  /** Slope ↔ FeatureOps.slopePct */
  def slopePct(first: String, last: String, n: String): String =
    s"CASE WHEN $n < 2 OR abs($first) < 1e-6 THEN 0e0 ELSE ($last - $first) / $first * 100e0 END"

  /** 60-bit deterministic string hash: first 15 hex chars of md5 as BIGINT.
    * Spark mirror: `conv(substring(md5(s),1,15),16,10).cast("long")`
    * (graft.ops.Hashing.h60). 15 hex chars = 60 bits, always fits signed 64.
    */
  def h60(s: String): String =
    s"CAST(('0x' || substr(md5($s), 1, 15)) AS BIGINT)"

  /** HLL bucket of an h60 expression ↔ graft.ops.Hll.bucketCol. */
  def hllBucket(h: String): String = s"$h // ${graft.ops.Hll.Two54}"

  /** HLL rank of an h60 expression ↔ graft.ops.Hll.rankCol. */
  def hllRank(h: String): String =
    s"""CASE WHEN $h % ${graft.ops.Hll.Two54} = 0 THEN CAST(55 AS BIGINT)
       ELSE CAST(55 - length(bin($h % ${graft.ops.Hll.Two54})) AS BIGINT) END"""

  /** (bucket, mr) register-census subquery of `rel.key` ↔
    * graft.ops.Hll.registerCensus (q210/q212's metadata input).
    */
  def hllRegs(rel: String, key: String): String = {
    val h = h60(s"CAST($key AS VARCHAR)")
    s"""SELECT ${hllBucket("h")} AS bucket, CAST(max(${hllRank("h")}) AS BIGINT) AS mr
       FROM (SELECT $h AS h FROM $rel) GROUP BY 1"""
  }

  /** Integer harmonic sum over (bucket, mr) rows ↔ graft.ops.Hll.harmonic
    * (an aggregate expression — use inside a GROUP BY / scalar agg).
    */
  def hllSH: String =
    s"""CAST(sum(1::BIGINT << CAST(55 - mr AS INT))
       + (${graft.ops.Hll.M} - count(*)) * (1::BIGINT << 55) AS BIGINT)"""

  /** Flajolet integer estimate from an s_h expression ↔
    * graft.ops.Hll.estimate / estimateInt — the ONE rendering of the
    * α₆₄·m²·2^55 constants on the oracle side.
    */
  def hllEstimate(sH: String): String =
    s"""CAST((CAST(709 AS HUGEINT) * 4096 * ${graft.ops.Hll.Two55})
       // (CAST($sH AS HUGEINT) * 1000) AS BIGINT)"""

  /** Scalar estimate subquery over a register-census subquery. */
  def hllEstimateOverRegs(regs: String): String =
    s"(SELECT ${hllEstimate(hllSH)} FROM ($regs))"

  /** Order-deterministic dot product ↔ graft.ops.VectorOps.dot. */
  def dot(a: String, b: String): String =
    sumZ(s"list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")

  /** Cosine similarity ↔ graft.ops.VectorOps.cosine. */
  def cosine(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  /** Sign-LSH bucket ↔ graft.ops.VectorOps.signBucket. */
  def signBucket(e: String, bits: Int): String =
    (1 to bits)
      .map(j => s"(CASE WHEN $e[$j] > 0 THEN ${1L << (j - 1)} ELSE 0 END)")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** Adaptive sign-LSH bucket ↔ VectorOps.adaptivePlanes + signBucket:
    * the MaxPlanes-plane bucket masked down to the smallest p in
    * [MinPlanes, MaxPlanes] with nExpr ≤ TargetBucketSize·2^p — masking
    * the high bits is exactly the p-plane bucket, and the threshold CASE
    * is integer-only so both engines pick the same p.
    */
  def signBucketAdaptive(e: String, nExpr: String): String = {
    import graft.ops.VectorOps.{MaxPlanes, MinPlanes, TargetBucketSize}
    val whens = (MinPlanes until MaxPlanes)
      .map(p => s"WHEN ($nExpr) <= ${TargetBucketSize << p} THEN ${(1L << p) - 1}")
      .mkString(" ")
    s"(${signBucket(e, MaxPlanes)} & (CASE $whens ELSE ${(1L << MaxPlanes) - 1} END))"
  }

  /** Word-split + n-gram shingle list ↔ graft.ops.Hashing.shingles. */
  def shingles(w: String, n: Int): String =
    s"list_transform(generate_series(1, len($w) - ${n - 1}), i -> array_to_string($w[i:i+${n - 1}], ' '))"

  /** Day-bar CTE ↔ graft.ops.BarOps.dayBars (named `bars`). */
  val barsCte: String =
    s"""bars AS (
       SELECT user_id, ${dayInt("ts")} AS day, ${timeInt("max(ts)")} AS time,
              arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
              arg_max(value, ts) AS close, CAST(count(*) AS BIGINT) AS volume
       FROM events GROUP BY 1, 2)"""

  /** bars + EMA CTE chain ↔ Features.barsWithEma (final CTE named `ema`):
    * running EMA from partition start — unbounded frame, mirroring the
    * incremental recurrence (`EmaRunning.step`) of the feature kernel and
    * of graft_ema_run exactly.
    */
  val emaCte: String =
    s"""$barsCte,
       framed AS (
         SELECT *, list(close) OVER wema AS lc FROM bars
         WINDOW wema AS (PARTITION BY user_id ORDER BY day
                         ROWS UNBOUNDED PRECEDING)),
       ema AS (
         SELECT user_id, day, time, open, high, low, close, volume,
                ${ema("lc", 9)} AS ema_fast, ${ema("lc", 21)} AS ema_slow
         FROM framed)"""

  /** Full enriched-pipeline CTE chain ↔ Features.enriched (final CTE named
    * `feat`; trailing-21 frame columns lma/lms/ma_first/wn + warm-up rn).
    */
  val featCte: String =
    s"""$emaCte,
       feat AS (
         SELECT *, row_number() OVER ws AS rn,
                list(ema_fast) OVER wb AS lma,
                list(ema_slow) OVER wb AS lms,
                first_value(ema_fast) OVER wb AS ma_first,
                count(*) OVER wb AS wn
         FROM ema
         WINDOW ws AS (PARTITION BY user_id ORDER BY day),
                wb AS (PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN 20 PRECEDING AND CURRENT ROW))"""

  /** The 14 FeaturesBar output columns (ordinal order) from `feat`. */
  val featuresSelect: String =
    s"""user_id, close AS "Close", day AS "Day",
       floor((${clv("close", "high", "low")}) * 1e6 + 5e-1) / 1e6 AS "F_CloseLocationValue",
       floor((${autocorrLag1("lma")}) * 1e6 + 5e-1) / 1e6 AS "F_MovingAverageAutocorrelation",
       floor((${maDistance("close", "ema_fast")}) * 1e6 + 5e-1) / 1e6 AS "F_MovingAverageDistance",
       floor((${slopePct("ma_first", "ema_fast", "wn")}) * 1e6 + 5e-1) / 1e6 AS "F_MovingAverageSlope",
       floor((${autocorrLag1("lms")}) * 1e6 + 5e-1) / 1e6 AS "F_MovingAverageSlowAutocorrelation",
       floor((${maDistance("close", "ema_slow")}) * 1e6 + 5e-1) / 1e6 AS "F_MovingAverageSlowDistance",
       floor((${olv("open", "high", "low")}) * 1e6 + 5e-1) / 1e6 AS "F_OpenLocationValue",
       high AS "High", low AS "Low", open AS "Open", time AS "Time",
       CAST(volume AS DOUBLE) AS "Volume""""
}
