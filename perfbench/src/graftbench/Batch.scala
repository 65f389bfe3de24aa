package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The batch workloads: oracle-backed `SparkEntry` queries run round-robin
  * on one warm session, each round in a seed-permuted order. A unit of work
  * is one query run: the query-lambda call (construction) plus one action
  * that materialises every output column (the `noop` sink; never `count()`,
  * whose optimized plan drops the columns nobody reads). Before timing, one
  * untimed pass writes every result as parquet, for run.py to compare with
  * the DuckDB oracle; it also warms the session with the same plans.
  */
object Batch {
  val floor: Seq[String] = Seq(
    "ref_window_agg", "ref_accumulated_upsert", "ref_json_roundtrip_agg",
    "ref_json_extract", "ref_cast_epoch", "ref_sort_bi",
    "q1_pricing", "rel_stats", "rel_retention_cohort", "rel_funnel_steps",
    "rel_decile_lift", "sample_pps",
    "stream_sliding_window", "stream_session_window", "stream_dedup_exact", "stream_topk")

  val iterative: Seq[String] = Seq("graph_cc_twostars", "text_unigram_encode")

  def queriesOf(workload: String): Seq[String] = workload match {
    case "batch_floor" => floor
    case "batch_iterative" => iterative
  }

  private type Query = (SparkSession, String) => DataFrame

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private final case class Sample(name: String, unit: String, wallMs: Double,
      buildEndMs: Double, startMs: Double, endMs: Double, leaked: Int)

  def run(c: Conf, r: Result): Unit = {
    val names = queriesOf(c.workload)
    val all = SparkEntry.queries
    val fns: Map[String, Query] = names.map(n => n -> all(n)).toMap
    val rnd = new scala.util.Random(c.seed)

    // Set-up: a fresh session and its first query, three times; the last
    // session stays up for the measurement.
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val s = Session.create(c.cores, c.work)
      noop(all("ref_window_agg")(s, c.fixtures))
      val secs = (System.nanoTime() - t0) / 1e9
      if (i < 2) s.stop()
      secs
    }
    val spark = SparkSession.active
    r.e2e("setup_s", Stats.median(setups), "s")
    r.info("setup_samples_s") = setups

    rnd.shuffle(names).foreach { n =>
      spark.catalog.clearCache()
      try fns(n)(spark, c.fixtures).write.mode("overwrite").parquet(s"${c.out}/outputs/$n")
      catch { case e: Throwable => System.err.println(s"[perfbench] $n failed: $e") }
    }

    val orders = mutable.ArrayBuffer.empty[Seq[String]]
    def order(k: Int): Seq[String] = {
      while (orders.size <= k) orders += rnd.shuffle(names)
      orders(k)
    }
    val (samples, wallS) = rounds(spark, c, fns, order, None, None, r)
    val ms = samples.map(_.wallMs)
    r.e2e("latency_p50_ms", Stats.median(ms), "ms")
    r.e2e("throughput_per_s", samples.size / wallS, "1/s")
    r.info("queries_timed") = samples.size.toLong
    r.info("rounds") = (samples.size / names.size).toLong
    r.info("query_ms") = names.map(n => n -> samples.filter(_.name == n).map(_.wallMs)).toMap
    if (c.workload == "batch_iterative")
      r.info("iter_wall_s") = ms.sum / 1000.0 / (samples.size / names.size)

    if (c.trace) {
      val tracer = new Tracer
      tracer.install(spark)
      val (traced, _) = rounds(spark, c, fns, order, Some(samples.size / names.size),
        Some(tracer), r)
      tracer.uninstall(spark)
      tracer.dump(s"${c.out}/spans.json")
      val units = traced.map(s => unitLayers(tracer, s))
      val m = Layers.means(units)
      Layers.ratios(m, c.cores)
      m("trace_overhead_frac") = Stats.mean(traced.map(_.wallMs)) / Stats.mean(ms) - 1.0
      Layers.emit(r, m)
    }
  }

  /** Runs whole rounds until `seconds` have passed (at least one), or
    * exactly `fixedRounds`. Returns the successful samples and the wall. */
  private def rounds(spark: SparkSession, c: Conf, fns: Map[String, Query],
      order: Int => Seq[String], fixedRounds: Option[Int], tracer: Option[Tracer],
      r: Result): (Seq[Sample], Double) = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var k = 0
    while (fixedRounds.fold(k == 0 || elapsed < c.seconds)(k < _)) {
      order(k).foreach { n =>
        val unit = s"$n#$k"
        r.attempted += 1
        spark.catalog.clearCache()
        val before = Tracer.persistentRdds(spark)
        tracer.foreach { t =>
          Tracer.drain(spark)
          t.takeActions()
          spark.sparkContext.setLocalProperty(Tracer.UnitKey, unit)
        }
        try {
          val a = Tracer.nowMs()
          val df = fns(n)(spark, c.fixtures)
          val b = Tracer.nowMs()
          noop(df)
          val e = Tracer.nowMs()
          samples += Sample(n, unit, e - a, b, a, e, Tracer.persistentRdds(spark) - before)
        } catch { case ex: Throwable =>
          r.failedNames += n
          System.err.println(s"[perfbench] $n failed: $ex")
        } finally tracer.foreach { t =>
          spark.sparkContext.setLocalProperty(Tracer.UnitKey, null)
          Tracer.drain(spark)
          samples.lastOption.filter(_.unit == unit).foreach { s =>
            val root = t.span(0, unit, s"query $n", s.startMs, s.endMs)
            t.span(root, unit, "build", s.startMs, s.buildEndMs)
            val act = t.span(root, unit, "action", s.buildEndMs, s.endMs)
            t.takeActions().flatten.foreach { case (a, b) => t.span(act, unit, "catalyst", a, b) }
          }
        }
      }
      k += 1
    }
    (samples.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  private def unitLayers(t: Tracer, s: Sample): Map[String, Double] = {
    val spans = t.spansOf(s.unit)
    val phases = spans.filter(_.name == "catalyst").map(p => (p.startMs, p.endMs))
    val jobs = Tracer.jobIntervals(spans, s.startMs, s.endMs)
    val buildJobs = spans.count(x => x.name.startsWith("job ") && x.startMs < s.buildEndMs)
    val actionJobs = Tracer.jobIntervals(spans, s.buildEndMs, s.endMs)
    // Self times: the unit's wall is its jobs and Catalyst phases (they may
    // overlap) plus driver time outside both.
    val covered = Stats.unionLength(jobs ++ phases)
    Layers.taskSide(t.countersOf(s.unit), jobs) ++ Map(
      "unit_wall_ms" -> s.wallMs,
      "build_ms" -> (s.buildEndMs - s.startMs),
      "build_jobs" -> buildJobs.toDouble,
      "catalyst_ms" -> phases.map { case (a, b) => b - a }.sum,
      "driver_gap_ms" -> (s.endMs - s.buildEndMs - Stats.unionLength(actionJobs)),
      "driver_other_ms" -> (s.wallMs - covered),
      "leaked_rdds" -> s.leaked.toDouble,
      "wall_accounted_frac" -> covered / s.wallMs)
  }
}
