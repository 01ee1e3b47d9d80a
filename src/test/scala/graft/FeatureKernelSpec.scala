package graft

import graft.model.FeaturesConfig
import graft.ops.TempDirs
import graft.oracle.OracleSql
import graft.pipeline.Features
import graft.sinks.DuckDbLive
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-series feature kernel on the edges the fixture never reaches,
  * against the DuckDB oracle (`OracleSql.featCte`): series shorter than,
  * equal to and longer than the 21-slot ring (so it wraps), single-event
  * and flat bars (the clv/olv `high == low` guard), constant and zero
  * prices (the autocorrelation `den < tol`, slope and MA-distance guards),
  * and events on both sides of a UTC midnight down to the microsecond.
  */
class FeatureKernelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = FeaturesConfig()
  private val Day = 86400000000L
  private val Jan1 = 19723L * Day // 2024-01-01T00:00:00Z in µs

  /** (user_id, µs since the epoch, value) */
  private val events: Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(7)
    def price() = 100.0 + math.round(rnd.nextGaussian() * 400) / 100.0
    // series of 1, 19, 20, 21, 22 and 45 bars: 1-3 events a day, some
    // single-event days, every fourth day flat (all events equal)
    val lengths = Seq(1, 19, 20, 21, 22, 45).zipWithIndex.flatMap { case (n, u) =>
      (0 until n).flatMap { d =>
        val k = 1 + (d * 7 + u) % 3
        val flat = price()
        (0 until k).map { j =>
          val v = if (d % 4 == 0) flat else price()
          (u + 1L, Jan1 + d * Day + 36000000000L + j * 1234567L, v)
        }
      }
    }
    // constant price and zero price, 25 bars each: den < tol, and the
    // slope / MA-distance |first|, |ma| < tol guards
    val constant = (0 until 25).map(d => (7L, Jan1 + d * Day + 43200000000L, 100.0))
    val zero = (0 until 25).map(d => (8L, Jan1 + d * Day + 43200000000L, 0.0))
    // midnight edges: 23:59:59.999999 closes day d, 00:00:00 opens day d+1
    val midnight = (0 until 24).flatMap { d =>
      Seq(
        (9L, Jan1 + (d + 1) * Day - 1, 50.0 + d),
        (9L, Jan1 + (d + 1) * Day, 60.0 - d),
        (9L, Jan1 + (d + 1) * Day + 1, 55.0 + d % 3)
      )
    }
    lengths ++ constant ++ zero ++ midnight
  }

  private def num(x: Any): Double = x.asInstanceOf[Number].doubleValue

  /** Spark and DuckDB rows of the same query shape, each value as a double. */
  private def both(got: org.apache.spark.sql.DataFrame, oracle: String): (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val sp = got.collect().toSeq.map(_.toSeq.map(num))
    val dd = TempDirs.withTempDir("graft_kernel_spec_") { dir =>
      events.toDF("user_id", "micros", "value").coalesce(1).write.parquet(s"$dir/ev")
      DuckDbLive.withConnection("") { c =>
        DuckDbLive.execute(c,
          s"""CREATE VIEW events AS SELECT user_id, make_timestamp(micros) AS ts, value
              FROM read_parquet('$dir/ev/*.parquet')""")
        DuckDbLive.queryRows(c, oracle).map(_.map(num))
      }
    }
    (sp, dd)
  }

  private def ev = events.toDF("user_id", "micros", "value")
    .select(col("user_id"), timestamp_micros(col("micros")).as("ts"), col("value"))

  test("enriched equals the oracle's raw bars, EMAs, rn and seven features, bit for bit") {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    import OracleSql._
    val cols = Seq("user_id", "day", "time", "open", "high", "low", "close", "volume",
      "ema_fast", "ema_slow", "rn", "f_clv", "f_olv", "f_ma_dist", "f_ma_dist_slow",
      "f_ma_slope", "f_ma_ac", "f_ma_ac_slow")
    val (sp, dd) = both(
      Features.enriched(ev, cfg).select(cols.map(col): _*).orderBy("user_id", "day"),
      s"""WITH $featCte SELECT user_id, day, time, open, high, low, close, volume,
            ema_fast, ema_slow, rn, ${clv("close", "high", "low")}, ${olv("open", "high", "low")},
            ${maDistance("close", "ema_fast")}, ${maDistance("close", "ema_slow")},
            ${slopePct("ma_first", "ema_fast", "wn")}, ${autocorrLag1("lma")}, ${autocorrLag1("lms")}
          FROM feat ORDER BY user_id, day""")
    assert(sp.length == 1 + 19 + 20 + 21 + 22 + 45 + 25 + 25 + 25)
    assert(sp.length == dd.length)
    sp.zip(dd).foreach { case (s, d) => assert(s == d, s"user ${s.head} day ${s(1)}") }
    // the guards really fired: flat bars, constant and zero series
    val byUser = sp.groupBy(_.head.toLong)
    assert(byUser(7L).forall(r => r(16) == 0.0 && r(17) == 0.0 && r(15) == 0.0))
    assert(byUser(8L).forall(r => r(13) == 0.0 && r(15) == 0.0))
    assert(sp.count(r => r(4) == r(5) && r(11) == 0.0 && r(12) == 0.0) > 50)
    // 23:59:59.999999 and 00:00:00 land in different day bars
    assert(byUser(9L).exists(r => r(2) == 235959.0) && byUser(9L).map(_(1)).distinct.length == 25)
  }

  test("featuresFull equals the oracle's FeaturesBar rows on the edge-case series") {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    val (sp, dd) = both(
      Features.featuresFull(ev, cfg),
      s"""WITH ${OracleSql.featCte} SELECT ${OracleSql.featuresSelect} FROM feat
          WHERE rn >= ${cfg.barsRequiredToTrade} ORDER BY user_id, day""")
    // 1 + 2 + 3 + 26 warm rows from the five long series, 6 each from
    // the constant/zero series, 6 from the midnight series (25 bars)
    assert(sp.length == 1 + 2 + 3 + 26 + 6 + 6 + 6)
    assert(sp == dd)
  }
}
