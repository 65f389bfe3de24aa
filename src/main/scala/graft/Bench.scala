package graft

import graft.Harness.{jsonString => q}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: wall time per SparkEntry query over
  * SPARK_GRAFT_SF_DIR, as JSON lines on stdout (driver contract). Runs on
  * the Harness session, whose AQE (Spark's default: coalesced shuffle
  * partitions, skew-join splitting, broadcast demotion/promotion) is what
  * a production cluster would run with. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cores)
    // Session warmup (scheduler, codegen compiler, parquet footer cache):
    // keeps per-query numbers about the queries, not JVM init.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Min of `runs` executions per query: the host exhibits intermittent
    // multi-10-second I/O stalls (BASELINE.md round-2 caveat) that inflate
    // a single sample uniformly; the minimum is the standard microbenchmark
    // estimator for the code's actual cost under such additive noise.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Dev-only narrowing (comma-separated query names); driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val Measured(results, failed) = measure(spark, sfDir, queries, runs)
    val qs = results.map { case (k, v) => q(k) + ":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val failedJson = failed.map(q).mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${q(sfDir)},"runs_per_query":$runs,"agg":"min","n_failed":${failed.size},"failed":$failedJson}"""
    println(line)
    // Persist the COMPLETE per-query map too: the driver's stdout capture
    // has truncated the front of the alphabetical tail in past rounds
    // (BENCH_r11 lost everything before src_*), so regressions in the a–s
    // families were unauditable from artifacts. Default path is cwd
    // (repo root under sbt); round-close batteries set
    // SPARK_GRAFT_BENCH_FULL_OUT=bench_full_r<N>.json and commit it.
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_OUT", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullOut), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] full artifact write failed: ${e.getMessage}") }
    // Tail-proof LAST line (VERDICT r13 #1): the driver's stdout parse has
    // failed four rounds running because the 300-query map above overflows
    // its tail window. This short line (<300 bytes, contract-shaped:
    // metric/value/unit/sf present) survives ANY >=2 KB tail capture; the
    // per-query map and the failed names live in the full line above and
    // in the artifact file.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${queries.size},"n_failed":${failed.size},"sf":${q(sfDir)},"runs_per_query":$runs,"agg":"min","artifact":${q(fullOut)}}""")
    spark.stop()
  }

  /** Per-query min seconds of the queries that never threw, and the names
    * of those that threw in any sample (reported, never timed). */
  case class Measured(times: Seq[(String, Double)], failed: Seq[String])

  def measure(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      runs: Int): Measured = {
    // Samples are INTERLEAVED (A,B,C,…,A,B,C,… — not A,A,A,B,B,B): the
    // r5 driver run showed two alphabetically-adjacent trivial queries at
    // 16 s / 13 s, i.e. one host stall window swallowing ALL consecutive
    // samples of neighboring queries despite min-of-3. Round-robin spaces
    // a query's samples a full suite apart, so a single stall can inflate
    // at most one sample of each — which the min then discards.
    val times = Array.fill(queries.size)(Array.fill(runs)(Double.MaxValue))
    val threw = Array.fill(queries.size)(false)
    for (r <- 0 until runs; i <- queries.indices) {
      // Clear BEFORE every sample, not just between queries: iterative
      // operators (pagerank, triangles, walks) persist frames, and
      // Spark's CacheManager reuses them across re-runs via canonicalized
      // plans — without this, runs 2..n of a persisting query measure a
      // warm cache and min() reports the warm number as per-query cost.
      // It also bounds local-mode heap pressure from accumulated blocks.
      spark.catalog.clearCache()
      val (name, fn) = queries(i)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        threw(i) = true
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      times(i)(r) = (System.nanoTime() - t0) / 1e9
    }
    Measured(
      queries.indices.filterNot(threw(_)).map(i => queries(i)._1 -> times(i).min),
      queries.indices.filter(threw(_)).map(i => queries(i)._1))
  }
}
