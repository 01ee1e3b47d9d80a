package graft.streaming

import graft.model.FeaturesConfig
import graft.pipeline.Features
import graft.pipeline.Features.{Bar, Ev, Series}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Stateful streaming feature pipeline — the `flatMapGroupsWithState`
  * re-expression of the reference's per-bar service
  * (`FeaturesBarService.cs:22-55` + ring buffers `CircularBuffer.cs:
  * 30-52`). The group state is the batch pipeline's own per-series kernel,
  * `pipeline.Features.Series`: the open day bar, both running EMAs and the
  * two bounded EMA rings. Each micro-batch feeds its events to that kernel
  * in µs order, and the bars go through `Features.featuresBar`, the batch
  * warm-up filter and projection, so the streaming output is the batch
  * output — and therefore the DuckDB oracle's (s04's oracle is q18's
  * SQL).
  *
  * The bar for a series' newest (still-open) day is emitted provisionally
  * at the end of each micro-batch WITHOUT committing it to state, so a
  * later batch extending that day re-derives it correctly; under
  * Trigger.AvailableNow with a single batch this yields exact batch
  * parity including the final day.
  */
object StreamFeatures {

  private def processGroup(cfg: FeaturesConfig)(
      userId: Long,
      events: Iterator[Ev],
      state: GroupState[Series]
  ): Iterator[Bar] = {
    val st = state.getOption.getOrElse(Series.empty(cfg))
    val closed = events.toVector.sortBy(_.micros).flatMap(e => Option(st.add(userId, e, cfg)))
    state.update(st)
    // provisional emit of the still-open day, from a copy (not committed)
    val open = if (st.volume > 0) Some(st.snapshot.commit(userId, cfg)) else None
    (closed ++ open).iterator
  }

  /** Run the streaming feature pipeline over a parquet events path to
    * completion; returns the settled rows in (user_id, Day) order.
    *
    * Multi-batch convergence: a file ending MID-day makes that batch's
    * provisional row for the open day a partial bar; the next batch
    * appends the corrected row, and append mode cannot retract the stale
    * one. The settled view therefore deduplicates on read, keyed by
    * (user_id, Day), keeping the max-Volume row: Volume is the day's
    * event count, so a later (more complete) emission of the same day
    * always carries strictly greater Volume, and equal-Volume duplicates
    * (a batch boundary landing exactly on a day boundary) are bit-exact
    * copies. This is the standard compaction view over an append log —
    * at scale the same window runs over the sink table partitioned by
    * key, matching the reference's ordered single-threaded replay
    * (`StrategyAnalyzerExporter.cs:179-182`) without requiring
    * day-aligned input files. Production sinks follow the same pattern:
    * stream append (foreachBatch / toTable) + this dedup-on-read view.
    */
  def runFeatures(
      session: SparkSession,
      eventsPath: String,
      cfg: FeaturesConfig = FeaturesConfig(),
      maxFilesPerTrigger: Option[Int] = None,
      fileGlob: String = "events*.parquet"
  ): DataFrame = {
    val spark = StreamSessions.tuned(session)
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    val baseDir = java.nio.file.Paths.get(eventsPath).getParent.toString
    val reader = spark.readStream.schema(schema).option("basePath", baseDir)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val bars = Features
      .kernelInput(graft.ops.Tables.normalizeEvents(reader.parquet(s"$baseDir/$fileGlob")))
      .groupBy("user_id")
      .as[Long, Ev]
      .flatMapGroupsWithState[Series, Bar](OutputMode.Append(), GroupStateTimeout.NoTimeout)(processGroup(cfg))
    val rows = Features.featuresBar(bars.toDF(), cfg)
    val name = "s04_feat_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = rows.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(spark, name, settle(spark.table(name)).orderBy("user_id", "Day"))
  }

  /** Dedup-on-read compaction of the appended feature rows: one row per
    * (user_id, Day), the max-Volume (most complete) emission winning.
    * Ties are bit-exact duplicates, so any deterministic tie-break works.
    */
  def settle(appended: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window
      .partitionBy(col("user_id"), col("Day"))
      .orderBy(col("Volume").desc, col("Time").desc)
    appended
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
