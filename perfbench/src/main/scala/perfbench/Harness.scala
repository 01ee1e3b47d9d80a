package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.model.FeaturesConfig
import graft.ops.Tables
import graft.pipeline.Features
import graft.queries.Registry
import graft.sinks.{DuckDbLive, DuckDbSink}
import org.apache.spark.sql.SparkSession

/** Benchmark client: one JVM, one Spark session at `local[N]`, one closed
  * loop (each op starts when the previous one returns). It times calls into
  * the engine's public functions from outside and writes one JSON result
  * file; `run.py` turns that into metrics.
  *
  *   --list <file>                      registry entries, one "name\tstratum" per line
  *   --workload export_wide|board_batch|board_stream
  *   --data <dir> --work <dir> --seconds <s> --trace 0|1 --cpus <n> --seed <n>
  *   --entries a,b,c                    board workloads: the sampled entries
  *   --wide <dir> --one <dir>           export_wide: widened and 1× events
  */
object Harness {
  final case class Op(
      id: Long, entry: String, traced: Boolean, startMs: Long, endMs: Long, wallNs: Long,
      gcMs: Long, error: Option[String], extra: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("list") match {
      case Some(f) => listEntries(f)
      case None => run(a)
    }
  }

  /** Stratum of each entry: the registry family for batch entries; for the
    * streaming demos, "stream" for s01–s38 (streaming queries and sinks) and
    * "lifecycle" for s39 onwards (SnapshotLog table-format lifecycles). */
  private def listEntries(out: String): Unit = {
    import graft.queries._
    val fams = Seq("Bar" -> BarQueries.all, "Rel" -> RelQueries.all, "Dedup" -> DedupQueries.all,
      "Sim" -> SimQueries.all, "Text" -> TextQueries.all, "Media" -> MediaQueries.all,
      "Stream" -> StreamDemos.all)
    val lines = for ((fam, qs) <- fams; q <- qs if q.oracle.isDefined) yield {
      val stratum =
        if (!q.name.startsWith("s")) fam
        else if (q.name.drop(1).takeWhile(_.isDigit).toInt <= 38) "stream"
        else "lifecycle"
      s"${q.name}\t$stratum"
    }
    Files.write(Paths.get(out), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val loadStart = loadAvg()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // Static confs, not spark.listenerManager / spark.streams: the streaming
    // entries run in newSession() siblings, which only the static confs reach.
    if (traced)
      b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[TriggerListener].getName)
        .config("spark.extraListeners", classOf[JobListener].getName)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = b.getOrCreate()
    val sessionMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    val heap = new HeapWatch
    val w: Workload = workload match {
      case "export_wide" => new ExportWide(spark, a, work)
      case "board_batch" | "board_stream" => new Board(spark, a, work)
      case other => sys.error(s"unknown workload $other")
    }
    w.warm()
    val warmMs = System.currentTimeMillis()

    // Closed loop. Whole passes, so every sampled entry runs equally often;
    // a traced run alternates traced and untraced passes for the overhead.
    val rnd = new scala.util.Random(a("seed").toLong)
    val ops = Seq.newBuilder[Op]
    val heapWindows = Seq.newBuilder[(Long, Long)]

    var pass = 0
    var opId = 0L
    System.gc() // each op starts from a collected heap: this, then the one after each op
    val firstOpMs = System.currentTimeMillis()
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    while (pass == 0 || System.nanoTime() < tEnd) {
      val tracePass = traced && pass % 2 == 0
      rnd.shuffle(w.items).foreach { item =>
        opId += 1
        Trace.currentOp = opId
        Trace.on = tracePass
        val gc0 = gcMillis()
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (err, extra): (Option[String], Map[String, Double]) =
          try (None, Trace.span("op")(w.op(item, opId)))
          catch { case NonFatal(e) => (Some(s"${e.getClass.getName}: ${e.getMessage}".take(300)), Map.empty) }
        val t1 = System.nanoTime()
        val s1 = System.currentTimeMillis()
        val gcMs = gcMillis() - gc0
        Trace.on = false
        System.gc() // off the clock; what the op left live counts for the peak
        heapWindows += ((s0, System.currentTimeMillis()))
        ops += Op(opId, item, tracePass, s0, s1, t1 - t0, gcMs, err, extra)
        w.afterOp(item, opId)
      }
      pass += 1
    }
    val opList = ops.result()
    // Calc-only passes for pipeline.compute_s, outside every timed op.
    val compute = if (traced) w.traceExtras() else Map.empty[String, Double]
    if (traced) Thread.sleep(500) // let the listener bus deliver the last events
    val checks = w.check()
    val calib = Calibrate.singleThread()
    val out = Json.obj(
      "workload" -> Json.str(workload),
      "jvm_start_ms" -> Json.num(jvmStartMs),
      "session_ms" -> Json.num(sessionMs),
      "warm_ms" -> Json.num(warmMs),
      "first_op_ms" -> Json.num(firstOpMs),
      "cpus" -> Json.num(cpus),
      "load_start" -> Json.num(loadStart),
      "load_end" -> Json.num(loadAvg()),
      "calib_s" -> Json.num(calib),
      "peak_live_heap_mb" -> Json.num(heap.peakMb(heapWindows.result())),
      "context" -> Json.obj(w.context.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
      "checks" -> Json.obj(checks.map { case (k, v) => k -> Json.str(v) }.toSeq: _*),
      "compute" -> Json.obj(compute.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
      "ops" -> Json.arr(opList.map(o => opJson(o, if (o.traced) Layers.of(o, cpus) else Map.empty))),
    )
    Files.writeString(work.resolve("result.json"), out)
    if (traced) Files.writeString(work.resolve("spans.jsonl"), Layers.spansJsonl())
    heap.close()
    spark.stop()
  }

  private def opJson(o: Op, layers: Map[String, Double]): String = Json.obj(
    "id" -> Json.num(o.id), "entry" -> Json.str(o.entry), "traced" -> o.traced.toString,
    "start_ms" -> Json.num(o.startMs), "wall_s" -> Json.num(o.wallNs / 1e9),
    "gc_s" -> Json.num(o.gcMs / 1e3),
    "error" -> o.error.map(Json.str).getOrElse("null"),
    "extra" -> Json.obj(o.extra.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
    "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }.toSeq: _*))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}

/** One workload: its warm-up, the op it times, and its correctness check. */
trait Workload {
  def items: Seq[String]
  def warm(): Unit
  /** Runs one op; returns per-op counters (rows, bytes) for the record. */
  def op(item: String, opId: Long): Map[String, Double]
  def afterOp(item: String, opId: Long): Unit = ()
  def traceExtras(): Map[String, Double] = Map.empty
  /** Oracle outcomes it can decide itself, keyed by op ("export#<id>") or
    * entry: "PASS" or the mismatch. */
  def check(): Map[String, String]
  def context: Map[String, Double] = Map.empty
}

/** The reference's pipeline: bars → features → parquet + DDL → DuckDB
  * appender at CommitEveryRows = 10000 → read-back census. */
final class ExportWide(spark: SparkSession, a: Map[String, String], work: Path) extends Workload {
  private val wide = a("wide")
  private val one = a("one")
  private val CommitEveryRows = 10000
  private val census =
    """SELECT count(*), count(DISTINCT user_id), min("Day"), max("Day"),
      |CAST(sum("Time") AS BIGINT), count(CASE WHEN "Close" > "Open" THEN 1 END)
      |FROM "Features"""".stripMargin
  /** Per op: the DDL the sink generated, then the read-back census. */
  private val censuses = scala.collection.mutable.Map[Long, Seq[Any]]()

  def items: Seq[String] = Seq("export")

  private def export(events: String, out: Path, opId: Long): Map[String, Double] = {
    val df = Trace.span("pipeline.featuresFull") {
      Features.featuresFull(Tables.events(spark, events), FeaturesConfig(), ordered = false)
    }
    val pq = out.resolve("parquet").toString
    val t0 = System.nanoTime()
    val (ddl, _) = Trace.span("sinks.parquet")(DuckDbSink.write(df, "Features", pq))
    val parquetS = (System.nanoTime() - t0) / 1e9
    val exported = spark.read.parquet(pq)
    val db = out.resolve("features.duckdb").toString
    var appendS, readS = 0.0
    val (rows, facts) = DuckDbLive.withConnection(db) { c =>
      Trace.span("sinks.duckdb.ddl")(DuckDbLive.execute(c, ddl))
      val t1 = System.nanoTime()
      val n = Trace.span("sinks.duckdb.appendAll")(DuckDbLive.appendAll(c, "Features", exported, CommitEveryRows))
      val t2 = System.nanoTime()
      val f = Trace.span("sinks.duckdb.readback")(DuckDbLive.queryRow(c, census).map(_.asInstanceOf[Number].longValue))
      appendS = (t2 - t1) / 1e9
      readS = (System.nanoTime() - t2) / 1e9
      (n, f)
    }
    censuses(opId) = ddl +: facts
    Map(
      "rows" -> rows.toDouble,
      "parquet_s" -> parquetS,
      "parquet_bytes" -> dirBytes(Paths.get(pq)).toDouble,
      "append_s" -> appendS,
      "readback_s" -> readS,
      "duckdb_bytes" -> (dirBytes(out) - dirBytes(Paths.get(pq))).toDouble)
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  private def opDir(opId: Long) = work.resolve(s"export-$opId")

  /** The artifact-cache walk and native load, a 1× pass, then one pass at
    * full size: after the 1× pass alone the first large pass ran ~2× slower
    * than later ones. */
  def warm(): Unit = {
    DuckDbLive.available
    Seq(one, wide).foreach { events =>
      export(events, work.resolve("export-warm"), -1L)
      Harness.deleteTree(work.resolve("export-warm"))
    }
    censuses.remove(-1L)
  }

  def op(item: String, opId: Long): Map[String, Double] = export(wide, opDir(opId), opId)

  override def afterOp(item: String, opId: Long): Unit = Harness.deleteTree(opDir(opId))

  /** The reference's calc-only mode (EnableWriteToDatabase=false):
    * featuresFull into the noop sink, median of three. */
  override def traceExtras(): Map[String, Double] = {
    val ts = (1 to 3).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      Features.featuresFull(Tables.events(spark, wide), FeaturesConfig(), ordered = false)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    Map("pipeline.compute_s" -> ts.sorted.apply(1))
  }

  /** DuckDB over the generated events: the s01 oracle (DDL, then census),
    * and the day bars the pipeline reads (warm-up bars included, as the
    * reference counts them). */
  private lazy val oracle: (Seq[Any], Long) =
    DuckDbLive.withConnection(work.resolve("oracle.duckdb").toString) { c =>
      DuckDbLive.execute(c, s"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('$wide/events.parquet')")
      val row = DuckDbLive.queryRow(c, SparkEntry.oracleSql("s01_duckdb_sink"))
      val bars = DuckDbLive.queryRow(c,
        "SELECT count(*) FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)")
        .head.asInstanceOf[Number].longValue
      // drop the live_appender flag: the census reads back an appender export
      (row.head.toString +: row.drop(2).map(_.asInstanceOf[Number].longValue), bars)
    }

  private val fields = Seq("ddl", "n_rows", "n_users", "min_day", "max_day", "sum_time", "n_up")

  def check(): Map[String, String] = {
    val expect = oracle._1
    censuses.toSeq.sortBy(_._1).map { case (id, got) =>
      val diffs = fields.indices.filter(i => got(i) != expect(i))
        .map(i => s"${fields(i)} ${got(i)} != oracle ${expect(i)}")
      s"export#$id" -> (if (diffs.isEmpty) "PASS" else diffs.mkString("; "))
    }.toMap
  }

  override def context: Map[String, Double] =
    Map("bars_per_op" -> oracle._2.toDouble, "rows_per_op" -> oracle._1(1).toString.toDouble,
      "commit_every_rows" -> CommitEveryRows.toDouble)
}

/** A sample of registry entries: each op is `run(spark, dir)` then a noop
  * write, as graft.Bench times them. */
final class Board(spark: SparkSession, a: Map[String, String], work: Path) extends Workload {
  private val data = a("data")
  private val byName = Registry.all.map(q => q.name -> q).toMap
  val items: Seq[String] = a("entries").split(",").toSeq.filter(_.nonEmpty)
  private val results = work.resolve("results")

  def warm(): Unit = items.foreach { name =>
    val q = byName(name)
    // the first untimed execution writes the result the oracle check reads
    try q.run(spark, data).coalesce(1).write.mode("overwrite").parquet(results.resolve(name).toString)
    catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up of $name failed: $e") }
    // streaming entries leave checkpoint and sink residue on their first
    // replay; a second untimed run takes its cleanup cost out of the loop
    if (name.startsWith("s"))
      try q.run(spark, data).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
  }

  def op(item: String, opId: Long): Map[String, Double] = {
    val df = Trace.span("queries.build")(byName(item).run(spark, data))
    Trace.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
    Map.empty
  }

  /** The oracle check itself runs in run.py (scripts/selfcheck.py over the
    * warm-up results); here only the oracle SQL is written beside them. */
  def check(): Map[String, String] = {
    Files.createDirectories(results)
    val json = items.map(n => s"${Json.str(n)}: ${Json.str(byName(n).oracle.get)}").mkString("{", ",", "}")
    Files.writeString(results.resolve("oracle_sql.json"), json)
    Map.empty
  }
}

/** Live heap: heap used after each full collection, from the collectors'
  * notifications. Young collections are left out: what they leave includes
  * old-generation garbage no collector has visited yet. Notifications
  * arrive on their own thread, so each is kept with its end time and
  * joined to the ops afterwards. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** (end time in epoch ms, heap used after the collection in MB) */
  val fullGcs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          fullGcs.add((jvmStartMs + info.getGcInfo.getEndTime, used / 1048576.0))
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Largest live heap seen in the windows [from, to] (epoch ms). */
  def peakMb(windows: Seq[(Long, Long)]): Double =
    fullGcs.asScala.collect { case (t, mb) if windows.exists { case (a, b) => t >= a && t <= b } => mb }
      .foldLeft(0.0)(math.max)

  def close(): Unit = emitters.foreach(e => try e.removeNotificationListener(listener) catch { case NonFatal(_) => () })
}

/** Single-thread CPU calibration, the same LCG loop as graft.Bench: host
  * context for the record, not a metric. */
object Calibrate {
  def singleThread(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 400000000) { h = h * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("")
    dt
  }
}

/** Minimal JSON text builders (the record is flat numbers and strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",\n", "]")
}
