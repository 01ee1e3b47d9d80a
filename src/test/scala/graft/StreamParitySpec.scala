package graft

import graft.ops.{BarOps, Tables}
import graft.streaming.StreamBars
import org.scalatest.funsuite.AnyFunSuite

/** Batch-stream parity (SURVEY.md §5.2.4): the Structured Streaming
  * day-bar build must produce exactly the batch operator's rows.
  */
class StreamParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("streaming day bars equal batch day bars on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val batch = BarOps
      .dayBars(Tables.events(spark, dir))
      .orderBy("user_id", "day")
      .collect()
      .toSeq
    val stream = StreamBars
      .runDayBars(spark, s"$dir/events.parquet")
      .collect()
      .toSeq
    assert(stream.map(_.toSeq) == batch.map(_.toSeq))
  }

  test("stateful streaming features stay batch-exact across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // split at a day boundary: batch 1 = days ≤ 20240120, batch 2 = rest.
    // Batch-1's provisional rows are already final; the settled view's
    // dedup-on-read must equal the batch pipeline exactly (no distinct()).
    val staged = stageSplit(dir, col("ts") <= to_timestamp(lit("2024-01-20 23:59:59.999999")))
    assertStreamEqualsBatch(dir, staged)
  }

  test("mid-day file split still converges to the batch pipeline (dedup-on-read)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // split MID-day (noon of 2024-01-20): batch 1 ends with a PARTIAL bar
    // for every user's open day, so its provisional rows are stale; the
    // max-Volume dedup-on-read view must retract them and converge to the
    // batch pipeline bit-exactly. This was the round-3 caveat
    // (day-aligned files required) — now removed.
    val staged = stageSplit(dir, col("ts") <= to_timestamp(lit("2024-01-20 12:00:00")))
    assertStreamEqualsBatch(dir, staged)
  }

  /** Stage events into two stream files split by `firstBatch` (per-user
    * timestamp order is preserved: the predicate is a ts cut, so every
    * file-0 event precedes every file-1 event).
    */
  private def stageSplit(dir: String, firstBatch: org.apache.spark.sql.Column): String = {
    val staged = java.nio.file.Files.createTempDirectory("graft_s04mb_").toAbsolutePath.toString
    val ev = Tables.events(spark, dir)
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$staged/_w"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/$name")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    writeOne(ev.filter(firstBatch), "ev0.parquet", 1000000L)
    writeOne(ev.filter(!firstBatch), "ev1.parquet", 2000000L)
    staged
  }

  private def assertStreamEqualsBatch(dir: String, staged: String): Unit = {
    val ev = Tables.events(spark, dir)
    val batch = graft.pipeline.Features.featuresFull(ev).collect().map(_.toSeq).toSet
    val cols = graft.pipeline.Features.featuresFull(ev).columns
    val stream = graft.streaming.StreamFeatures
      .runFeatures(spark, s"$staged/ev0.parquet", maxFilesPerTrigger = Some(1), fileGlob = "ev*.parquet")
      .selectExpr(cols: _*)
      .collect()
      .map(_.toSeq)
    assert(stream.length == batch.size)
    assert(stream.toSet == batch)
  }

  test("stateful streaming features equal the batch flagship pipeline on sf0.001 (bit-exact)") {
    val dir = "/root/testdata/sf0.001"
    val batch = graft.pipeline.Features
      .featuresFull(Tables.events(spark, dir))
      .collect()
      .toSeq
    val cols = graft.pipeline.Features
      .featuresFull(Tables.events(spark, dir))
      .columns
    val stream = graft.streaming.StreamFeatures
      .runFeatures(spark, s"$dir/events.parquet")
      .selectExpr(cols: _*)
      .collect()
      .toSeq
    assert(stream.map(_.toSeq) == batch.map(_.toSeq))
  }

  test("streaming orders a day's events by microsecond, not by millisecond and file order") {
    import spark.implicits._
    // one user, 21 daily events; on the last day two events 300 µs apart
    // inside one millisecond, the later one written first
    val jan1 = 19723L * 86400000000L
    val days = (0 until 20).map(d => (1L, jan1 + d * 86400000000L + 36000000000L, 100.0 + d))
    val last = jan1 + 20 * 86400000000L + 36000000100L
    val evs = days ++ Seq((1L, last + 300L, 2.0), (1L, last, 1.0))
    graft.ops.TempDirs.withTempDir("graft_s04_us_") { dir =>
      evs.toDF("user_id", "micros", "value")
        .select(org.apache.spark.sql.functions.timestamp_micros($"micros").as("ts"), $"user_id", $"value")
        .coalesce(1).write.parquet(s"$dir/_w")
      val part = new java.io.File(s"$dir/_w").listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve("events.parquet"))
      val batch = graft.pipeline.Features.featuresFull(Tables.events(spark, dir.toString))
      val stream = graft.streaming.StreamFeatures
        .runFeatures(spark, s"$dir/events.parquet")
        .selectExpr(batch.columns.toIndexedSeq: _*)
      val b = batch.collect().toSeq.map(_.toSeq)
      assert(stream.collect().toSeq.map(_.toSeq) == b)
      assert(batch.filter($"Day" === 20240121L).select("Open", "Close").as[(Double, Double)]
        .collect().toSeq == Seq((1.0, 2.0)))
    }
  }
}
