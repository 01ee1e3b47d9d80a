package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced op: spans recorded by the harness plus
  * listener events joined to the op by time (an event belongs to the op
  * whose wall interval holds its start). */
object Layers {
  private def within(o: Harness.Op, ms: Long) = ms >= o.startMs && ms <= o.endMs

  def of(o: Harness.Op, cpus: Int): Map[String, Double] = {
    val wall = o.wallNs / 1e9
    val spans = Trace.spans.asScala.filter(_.op == o.id).toSeq
    def spanS(name: String) = spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
    def phaseS(name: String) =
      Trace.phases.asScala.filter(p => p.name == name && within(o, p.startMs)).map(p => (p.endMs - p.startMs) / 1e3).sum

    val jobs = Trace.jobs.values.asScala.filter(j => within(o, j.startMs)).toSeq
    val busyMs = Trace.union(jobs.map(j => (j.startMs, (if (j.endMs < 0) o.endMs else j.endMs).min(o.endMs))))
    val tasks = Trace.tasks.asScala.filter(t => within(o, t.finishMs)).toSeq
    val trig = Trace.triggers.asScala.filter(t => within(o, t.startMs)).toSeq
    def trigS(key: String) = trig.map(_.durations.getOrElse(key, 0L)).sum / 1e3
    val streams = Trace.queries.values.asScala.filter(q => within(o, q.startMs)).toSeq
    val outsideMs = streams.map { q =>
      val end = if (q.endMs < 0) o.endMs else q.endMs
      val inTriggers = Trace.triggers.asScala
        .filter(t => t.startMs >= q.startMs && t.startMs <= end).map(_.durations.getOrElse("triggerExecution", 0L)).sum
      (end - q.startMs - inTriggers).max(0L)
    }.sum

    val rows = o.extra.getOrElse("rows", 0.0)
    def perRow(bytes: String) = if (rows > 0) o.extra.getOrElse(bytes, 0.0) / rows else 0.0
    val appendS = o.extra.getOrElse("append_s", 0.0)
    Map(
      "queries.build_s" -> spanS("queries.build"),
      "queries.exec_s" -> spanS("queries.exec"),
      "catalyst.analysis_s" -> phaseS("analysis"),
      "catalyst.optimization_s" -> phaseS("optimization"),
      "catalyst.planning_s" -> phaseS("planning"),
      "jobs.count" -> jobs.size.toDouble,
      "jobs.busy_s" -> busyMs / 1e3,
      "jobs.gap_s" -> (wall - busyMs / 1e3).max(0.0),
      "tasks.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "tasks.util" -> tasks.map(_.runMs).sum / 1e3 / (wall * cpus),
      "sources.bytes_read" -> tasks.map(_.bytesRead).sum.toDouble,
      "shuffle.bytes_written" -> tasks.map(_.shuffleWritten).sum.toDouble,
      "streaming.triggers" -> trig.size.toDouble,
      "streaming.trigger_s" -> trigS("triggerExecution"),
      "streaming.query_planning_s" -> trigS("queryPlanning"),
      "streaming.add_batch_s" -> trigS("addBatch"),
      "streaming.wal_commit_s" -> trigS("walCommit"),
      "streaming.empty_trigger_ratio" ->
        (if (trig.isEmpty) 0.0 else trig.count(_.inputRows == 0).toDouble / trig.size),
      "streaming.outside_trigger_s" -> outsideMs / 1e3,
      "pipeline.rows_out" -> rows,
      "sinks.parquet_s" -> o.extra.getOrElse("parquet_s", 0.0),
      "sinks.parquet_bytes_per_row" -> perRow("parquet_bytes"),
      "sinks.duckdb.append_s" -> appendS,
      "sinks.duckdb.append_rows_per_s" -> (if (appendS > 0) rows / appendS else 0.0),
      "sinks.duckdb.readback_s" -> o.extra.getOrElse("readback_s", 0.0),
      "sinks.duckdb.bytes_per_row" -> perRow("duckdb_bytes"),
      "jvm.gc_s" -> o.gcMs / 1e3,
    )
  }

  /** Every span as one JSON line, with its self time. */
  def spansJsonl(): String = {
    val all = Trace.spanList
    val self = Trace.selfTimes(all)
    all.map { s =>
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
        "name" -> Json.str(s.name), "start_ns" -> Json.num(s.startNs),
        "dur_s" -> Json.num((s.endNs - s.startNs) / 1e9), "self_s" -> Json.num(self(s.id) / 1e9))
    }.mkString("", "\n", "\n")
  }
}
