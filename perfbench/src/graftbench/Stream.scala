package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors

import graft.ops.{Ingest, Metrics}
import graft.sources.EventGen
import graft.streaming.{JdbcUpsertSink, RidePipeline, UpsertSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** The stream input run.py staged for one seed (`plan.txt` in the staged
  * directory): which files make the warm-up batch, the measured batches
  * (closed loop) or the publishing order (open loop), the event ids the
  * sink must account for, and how many events were planted. */
final case class StreamPlan(dir: Path, acceptedFrom: Long, acceptedUntil: Long,
    late: Long, malformed: Long, outOfOrder: Long, filesPerBatch: Int,
    warm: Seq[String], batches: Seq[Seq[String]], publish: Seq[String])

object StreamPlan {
  def read(dir: Path): StreamPlan = {
    val lines = Files.readAllLines(dir.resolve("plan.txt")).asScala.map(_.split(" ").toSeq)
    def one(k: String): Seq[String] = lines.find(_.head == k).get.tail
    def all(k: String): Seq[Seq[String]] = lines.filter(_.head == k).map(_.tail).toSeq
    StreamPlan(dir, one("accepted").head.toLong, one("accepted")(1).toLong,
      one("late").head.toLong, one("malformed").head.toLong, one("out_of_order").head.toLong,
      one("files_per_batch").head.toInt, one("warm"), all("batch"), all("publish").map(_.head))
  }
}

/** The ride-event pool the stream inputs are cut from: `EventGen`'s JSON
  * wire-shape events in files of `events` consecutive ids. Built once per
  * checkout; run.py hard-links a seed-chosen window of it per run. */
object Pool {
  def build(spark: SparkSession, dir: Path, firstId: Long, files: Int, events: Int,
      threads: Int): Unit = {
    Files.createDirectories(dir)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until files).map { k =>
      Future {
        val tmp = dir.resolve(f"c-$k%05d.tmp")
        EventGen.rideEventsJson(spark, events, startId = firstId + k.toLong * events)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-")).get
        Files.move(part, dir.resolve(f"c-$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }), Duration.Inf)
    finally pool.shutdown()
  }
}

/** A timing wrapper around the pipeline's sink: records when each epoch's
  * merge starts and commits. */
final class TimedSink(inner: UpsertSink) extends UpsertSink {
  val merges: mutable.ArrayBuffer[(Long, Double, Double)] = mutable.ArrayBuffer.empty
  override def merge(batch: DataFrame, epochId: Long): Unit = {
    val a = Tracer.nowMs()
    inner.merge(batch, epochId)
    val b = Tracer.nowMs()
    synchronized(merges += ((epochId, a, b)))
  }
  def all: Seq[(Long, Double, Double)] = synchronized(merges.toSeq)
}

/** The two streaming workloads, through `RidePipeline.metricsPlan` /
  * `RidePipeline.start` (file source, update mode) into `JdbcUpsertSink`
  * on embedded Derby. */
object Stream {
  private val derbyUrl = "jdbc:derby:memory:perfbench;create=true"
  /** Open loop: files published per second, and how late the generator may
    * run before the run counts as failed. */
  val filesPerSecond = 20.0
  val lateBoundMs = 200.0

  /** A running pipeline over a source directory of its own. */
  final class Pipe(val spark: SparkSession, val plan: StreamPlan, val src: Path, val ckpt: Path,
      val table: String, val query: StreamingQuery, val sink: TimedSink) {
    def publish(name: String): Unit = Files.createLink(src.resolve(name), plan.dir.resolve(name))
    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq
  }

  /** Starts the pipeline on a fresh source directory holding only the
    * warm-up files and waits for that first batch. */
  def start(spark: SparkSession, c: Conf, plan: StreamPlan, tag: String): Pipe = {
    val root = Paths.get(c.work, "streams", tag)
    val src = Files.createDirectories(root.resolve("src"))
    val reader = spark.readStream.schema("value STRING")
    val source = (if (plan.filesPerBatch > 0)
      reader.option("maxFilesPerTrigger", plan.filesPerBatch.toString) else reader)
      .parquet(src.toString)
    val table = s"city_metrics_$tag"
    val sink = new TimedSink(new JdbcUpsertSink(derbyUrl, table))
    val query = RidePipeline.start(RidePipeline.metricsPlan(source, streaming = true), sink,
      root.resolve("ckpt").toString, Trigger.ProcessingTime(0))
    val pipe = new Pipe(spark, plan, src, root.resolve("ckpt"), table, query, sink)
    plan.warm.foreach(pipe.publish)
    query.processAllAvailable()
    pipe
  }

  /** The measured part of one run: when each file was due and published. */
  final case class Phase(pipe: Pipe, files: Seq[String], scheduled: Seq[Double],
      published: Seq[Double])

  /** Closed loop: the whole staged input lands at once (for the backlog,
    * run.py set the file times so the source takes it batch by batch in
    * plan order; the open loop's files then make one batch). */
  def backlog(pipe: Pipe): Phase = {
    (pipe.plan.batches.flatten ++ pipe.plan.publish).foreach(pipe.publish)
    pipe.query.processAllAvailable()
    Phase(pipe, Nil, Nil, Nil)
  }

  /** Open loop: a generator thread publishes one file every
    * 1/[[filesPerSecond]] s by hard-linking it into the source directory
    * (an atomic rename would do the same), on a schedule fixed in advance. */
  def paced(pipe: Pipe): Phase = {
    val files = pipe.plan.publish
    val t0 = Tracer.nowMs() + 100.0
    val sched = files.indices.map(i => t0 + i * 1000.0 / filesPerSecond)
    val published = Array.fill(files.size)(0.0)
    val gen = new Thread(() => files.indices.foreach { i =>
      val wait = sched(i) - Tracer.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      pipe.publish(files(i))
      published(i) = Tracer.nowMs()
    }, "perfbench-generator")
    gen.start()
    gen.join()
    pipe.query.processAllAvailable()
    Phase(pipe, files, sched, published.toSeq)
  }

  /** File name -> the micro-batch (epoch) that read it, from the
    * checkpoint: the file source's log numbers its own batches, which skip
    * the epochs that read no file (a watermark-only batch), and the offset
    * log says which source batch each epoch ended at. */
  def batchOfFile(ckpt: Path): Map[String, Long] = {
    def logs(dir: Path): Seq[(Long, Seq[String])] =
      Files.list(dir).iterator().asScala.toSeq
        .map(f => (f.getFileName.toString, f))
        .collect { case (n, f) if n.matches("""\d+(\.compact)?""") =>
          n.takeWhile(_.isDigit).toLong -> Files.readAllLines(f).asScala.toSeq }
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    val sourceBatch = logs(ckpt.resolve("sources").resolve("0")).flatMap(_._2).flatMap(l =>
      entry.findFirstMatchIn(l).map(m =>
        Paths.get(new java.net.URI(m.group(1))).getFileName.toString -> m.group(2).toLong)).toMap
    val offset = """"logOffset":(\d+)""".r
    val epochEnds = logs(ckpt.resolve("offsets")).map { case (epoch, lines) =>
      epoch -> offset.findFirstMatchIn(lines.last).get.group(1).toLong
    }.sortBy(_._1)
    sourceBatch.flatMap { case (f, b) => epochEnds.find(_._2 >= b).map(f -> _._1) }
  }

  def run(c: Conf, r: Result): Unit = {
    val plan = StreamPlan.read(Paths.get(c.work, "staged"))
    r.info("planted_late") = plan.late
    r.info("planted_malformed") = plan.malformed
    r.info("planted_out_of_order") = plan.outOfOrder

    // Set-up: session start, stream start and its first batch, three times.
    var pipe: Pipe = null
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val spark = Session.create(c.cores, c.work)
      val p = start(spark, c, plan, s"setup$i")
      val secs = (System.nanoTime() - t0) / 1e9
      if (i < 2) { p.query.stop(); spark.stop() } else pipe = p
      secs
    }
    r.e2e("setup_s", Stats.median(setups), "s")
    r.info("setup_samples_s") = setups
    val spark = pipe.spark
    def measure(p: Pipe): Phase = if (plan.filesPerBatch > 0) backlog(p) else paced(p)

    val phase = measure(pipe)
    pipe.query.stop()
    val m = summarise(phase, r)
    r.e2e("latency_p50_ms", m("latency_p50_ms"), "ms")
    r.e2e("throughput_per_s", m("throughput_per_s"), "1/s")
    check(spark, phase, r, m)

    if (c.trace) {
      val tracer = new Tracer
      tracer.install(spark)
      val tp = start(spark, c, plan, "traced")
      val traced = measure(tp)
      tp.query.stop()
      tracer.uninstall(spark)
      val tm = summarise(traced, new Result)
      val layers = streamLayers(tracer, traced, c.cores)
      tracer.dump(s"${c.out}/spans.json")
      layers ++= tm.filter { case (k, _) => Layers.names.exists(_._1 == k) }
      layers("trace_overhead_frac") = tm("unit_wall_ms") / m("unit_wall_ms") - 1.0
      // Single-threaded baseline: the same input drained at local[1].
      spark.stop()
      val sp = start(Session.create(1, c.work), c, plan, "serial")
      layers("serial_events_per_s") = summarise(backlog(sp), new Result)("throughput_per_s")
      sp.query.stop()
      Layers.emit(r, layers)
    }
  }

  private def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** The micro-batches after the warm-up batch that read input. */
  private def measured(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(p => p.batchId > 0 && p.numInputRows > 0)

  /** End-to-end figures of one phase, plus the streaming, sink and
    * generator figures that need no listener. */
  def summarise(phase: Phase, r: Result): mutable.Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val batches = measured(phase.pipe.progress)
    val walls = batches.map(duration(_, "triggerExecution"))
    val merges = phase.pipe.sink.all.filter(_._1 > 0)
    val mergeMs = merges.map(x => x._3 - x._2)
    val ops = batches.flatMap(_.stateOperators.headOption)
    m("batches") = batches.size
    m("unit_wall_ms") = Stats.mean(walls)
    m("batch_ms_p50") = Stats.median(walls)
    m("sink_merge_ms_p50") = Stats.median(mergeMs)
    m("sink_merge_ms_max") = mergeMs.max
    m("sink_rows") = ops.map(_.numRowsUpdated).sum.toDouble
    m("rows_dropped_by_watermark") = ops.map(_.numRowsDroppedByWatermark).sum.toDouble
    if (phase.files.isEmpty) {
      r.attempted += batches.size
      m("latency_p50_ms") = Stats.median(walls)
      m("throughput_per_s") = Stats.median(batches.map(p =>
        p.numInputRows / duration(p, "triggerExecution") * 1000.0))
    } else {
      r.attempted += phase.files.size
      val batchOf = batchOfFile(phase.pipe.ckpt)
      val commitOf = merges.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._3).max }
      val commits = phase.files.map(f => batchOf.get(f).flatMap(commitOf.get))
      commits.zip(phase.files).collect { case (None, f) => r.failedNames += s"$f never committed" }
      val lat = commits.zip(phase.scheduled).collect { case (Some(c), s) => c - s }
      m("latency_p50_ms") = Stats.median(lat)
      // A percentile is reported only with at least 10 samples beyond it.
      m("latency_p95_ms") = if (lat.size >= 200) Stats.quantile(lat, 0.95) else Double.NaN
      val events = batches.map(_.numInputRows).sum
      m("throughput_per_s") = events / ((commits.flatten.max - phase.scheduled.head) / 1000.0)
      val late = phase.published.zip(phase.scheduled).map { case (p, s) => p - s }
      m("gen_late_ms_max") = late.max
      m("backlog_files_max") = merges.map { case (_, _, end) =>
        phase.published.count(_ <= end) - commits.count(_.exists(_ <= end))
      }.max.toDouble
      r.check("generator within schedule", late.max <= lateBoundMs)
    }
    m
  }

  /** Exact accounting: the Derby table equals the batch twin
    * (`Metrics.windowedMetrics`) over exactly the accepted events, and the
    * watermark dropped exactly the planted late events. */
  def check(spark: SparkSession, phase: Phase, r: Result, m: collection.Map[String, Double]): Unit = {
    val plan = phase.pipe.plan
    val accepted = EventGen.rideEvents(spark, plan.acceptedUntil - plan.acceptedFrom,
      startId = plan.acceptedFrom)
    val twin = Metrics.windowedMetrics(Metrics.WindowSpec(), streaming = false)(
      Ingest.castEventTime()(accepted))
      .collect().map(row => (row.getString(0), row.getTimestamp(3).getTime) ->
        ((row.getLong(1), row.getDouble(2)))).toMap
    val got = mutable.Map.empty[(String, Long), (Long, Double)]
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "city", "window_end", "total_trips", "average_fare" FROM ${phase.pipe.table}""")
      while (rs.next())
        got((rs.getString(1), rs.getTimestamp(2).getTime)) = (rs.getLong(3), rs.getDouble(4))
    } finally conn.close()
    val same = got.keySet == twin.keySet && twin.forall { case (k, (n, avg)) =>
      val (gn, gavg) = got(k)
      gn == n && math.abs(gavg - avg) <= 1e-9 * math.max(1.0, math.abs(avg))
    }
    r.info("events_accepted") = plan.acceptedUntil - plan.acceptedFrom
    r.info("events_in_sink") = got.values.map(_._1).sum
    r.info("rows_dropped_by_watermark") = m("rows_dropped_by_watermark")
    r.check("sink equals batch twin over accepted events", same)
    r.check("watermark dropped exactly the planted late events",
      m("rows_dropped_by_watermark") == plan.late)
  }

  /** Per-layer figures of a traced phase, from the listeners. Phase spans
    * of a micro-batch are laid end to end in execution order, since
    * progress reports their durations only. */
  private def streamLayers(t: Tracer, phase: Phase, cores: Int): mutable.Map[String, Double] = {
    val merges = phase.pipe.sink.all
    val units = measured(t.progress.toSeq).map { p =>
      val unit = Tracer.batchUnit(p.batchId)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val wall = duration(p, "triggerExecution")
      val root = t.span(0, unit, "micro-batch", start, start + wall)
      var at = start
      val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").map { k =>
        val d = duration(p, k)
        t.span(root, unit, k, at, at + d)
        at += d
        k -> d
      }.toMap
      merges.filter(_._1 == p.batchId).foreach { case (_, a, b) => t.span(root, unit, "sink merge", a, b) }
      val jobs = Tracer.jobIntervals(t.spansOf(unit), start, start + wall)
      val jobWall = Stats.unionLength(jobs)
      val op = p.stateOperators.headOption
      Layers.taskSide(t.countersOf(unit), jobs) ++ Map(
        "unit_wall_ms" -> wall,
        "catalyst_ms" -> phases("queryPlanning"),
        "latest_offset_ms" -> phases("latestOffset"),
        "get_batch_ms" -> phases("getBatch"),
        "trigger_planning_ms" -> phases("queryPlanning"),
        "add_batch_ms" -> phases("addBatch"),
        "wal_commit_ms" -> phases("walCommit"),
        "commit_offsets_ms" -> phases("commitOffsets"),
        "driver_gap_ms" -> (wall - jobWall),
        "driver_other_ms" -> (wall - jobWall - phases("queryPlanning")),
        "state_rows" -> op.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state_commit_ms" -> op.map(_.commitTimeMs.toDouble).getOrElse(0.0),
        "state_memory_bytes" -> op.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "wall_accounted_frac" -> phases.values.sum / wall)
    }
    val m = Layers.means(units)
    Layers.ratios(m, cores)
    m
  }
}
