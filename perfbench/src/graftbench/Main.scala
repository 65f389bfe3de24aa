package graftbench

import java.nio.file.{Files, Paths}

/** JVM side of the benchmark; `perfbench/run.py` is the entry point.
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --fixtures DIR --work DIR --out DIR
  *                                  writes OUT/result.json
  *   oracle-sql OUT NAME...         dumps SparkEntry.oracleSql entries
  *   pool DIR FIRST_ID FILES EVENTS_PER_FILE WORK
  *                                  writes the stream event pool
  *   count-plans FIXTURES WORK      optimized plans of ref_window_agg under
  *                                  count() and under full materialisation
  */
object Main {
  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("run") => run(args.tail)
      case Some("oracle-sql") => oracleSql(args(1), args.drop(2).toSeq)
      case Some("pool") => pool(args.tail)
      case Some("count-plans") => countPlans(args(1), args(2))
      case _ =>
        System.err.println("usage: run | oracle-sql | pool | count-plans")
        2
    }
    // Derby and Spark leave non-daemon threads behind.
    System.exit(code)
  }

  private def run(args: Array[String]): Int = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("cores").toInt, kv("fixtures"), kv("work"), kv("out"))
    Files.createDirectories(Paths.get(c.out))
    val r = new Result
    c.workload match {
      case "batch_floor" | "batch_iterative" => Batch.run(c, r)
      case "stream_backlog" | "stream_paced" => Stream.run(c, r)
    }
    r.info("live_heap_mb") = Session.liveHeapMb()
    Files.writeString(Paths.get(c.out, "result.json"), r.toJson)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    0
  }

  private def oracleSql(out: String, names: Seq[String]): Int = {
    val all = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out), Json.obj(names.map(n => n -> all(n))).s)
    0
  }

  private def pool(a: Array[String]): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Session.create(cores, a(4))
    Pool.build(spark, Paths.get(a(0)), a(1).toLong, a(2).toInt, a(3).toInt, cores)
    spark.stop()
    0
  }

  private def countPlans(fixtures: String, work: String): Int = {
    val spark = Session.create(2, work)
    val df = graft.SparkEntry.queries("ref_window_agg")(spark, fixtures)
    println("== count()")
    println(df.groupBy().count().queryExecution.optimizedPlan)
    println("== materialised")
    println(df.queryExecution.optimizedPlan)
    spark.stop()
    0
  }
}
