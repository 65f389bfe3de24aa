package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A timed interval. One `unit` id per query run or micro-batch; `parent`
  * is the id of the span that caused this one (0 for a root). */
final case class Span(id: Long, parent: Long, unit: String, name: String,
    startMs: Double, endMs: Double)

/** Task-side work attributed to one unit. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0.0
  var shuffleRead, shuffleWrite, spill = 0L
}

/** The traced run's recorder: a `SparkListener` (jobs, stages, task
  * metrics), a `QueryExecutionListener` (Catalyst phase times of each
  * action) and a `StreamingQueryListener` (micro-batch progress). Jobs are
  * attributed to a unit through the local property [[Tracer.UnitKey]] set
  * by the batch driver, or through the micro-batch id Spark itself sets on
  * every streaming job. Everything stays in memory until [[dump]]. */
final class Tracer {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobUnit = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageUnit = new ConcurrentHashMap[Int, String]()
  private val counters = mutable.Map.empty[String, Counters]
  private val actions = mutable.ArrayBuffer.empty[Seq[(Double, Double)]]
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty

  def span(parent: Long, unit: String, name: String, startMs: Double, endMs: Double): Long =
    synchronized {
      val id = nextId.getAndIncrement()
      spans += Span(id, parent, unit, name, startMs, endMs)
      id
    }

  def spansOf(unit: String): Seq[Span] = synchronized(spans.filter(_.unit == unit).toSeq)
  def countersOf(unit: String): Counters = synchronized(counters.getOrElseUpdate(unit, new Counters))

  /** Catalyst phase intervals (analysis, optimization, planning; epoch ms)
    * of each action finished since the last call. */
  def takeActions(): Seq[Seq[(Double, Double)]] = synchronized {
    val a = actions.toSeq
    actions.clear()
    a
  }

  private def unitOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(UnitKey))
      .orElse(Option(p.getProperty(BatchIdKey)).map(batchUnit(_))))
      .getOrElse("other")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val unit = unitOf(e.properties)
      jobUnit.put(e.jobId, unit)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageUnit.put(_, unit))
      countersOf(unit).synchronized(countersOf(unit).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val unit = jobUnit.getOrDefault(e.jobId, "other")
      val start = Option(jobStart.get(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
      span(0, unit, s"job ${e.jobId}", start, e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countersOf(stageUnit.getOrDefault(e.stageInfo.stageId, "other"))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = countersOf(stageUnit.getOrDefault(e.stageId, "other"))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1e6
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values.map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      Tracer.this.synchronized(actions += phases.toSeq)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Write every span as one JSON array. */
  def dump(path: String): Unit = {
    val body = synchronized(spans.toSeq).map(s => Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "unit" -> s.unit, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)).s).mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

object Tracer {
  val UnitKey = "graftbench.unit"
  /** The local property Spark sets on every job of a micro-batch. */
  val BatchIdKey = "streaming.sql.batchId"
  def batchUnit(batchId: Any): String = s"batch-$batchId"

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same scale as listener event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Block until every listener has seen every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchAccess.waitForListeners(spark.sparkContext)

  /** Job intervals of `spans` clipped to [from, to). */
  def jobIntervals(spans: Seq[Span], from: Double, to: Double): Seq[(Double, Double)] =
    spans.filter(_.name.startsWith("job "))
      .map(s => (math.max(s.startMs, from), math.min(s.endMs, to)))
      .filter { case (a, b) => b > a }

  def persistentRdds(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size
}
