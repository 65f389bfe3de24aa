package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

/** The session factory and the harness helpers every main shares. */
class HarnessSpec extends SparkSuite {
  test("Harness.session: cores, UTC, and the AQE defaults Bench relies on") {
    // Bench sets no AQE flag; it relies on these Spark defaults. A Spark
    // upgrade that flips one must fail here, not silently move Bench.
    Seq("spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled").foreach { k =>
      assert(spark.conf.get(k) == "true", k)
    }
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(LogManager.getLogger(
      "org.apache.spark.sql.execution.window.WindowExec").getLevel == Level.ERROR)
  }

  test("Harness.jsonString round-trips every ASCII char through Jackson") {
    val mapper = new ObjectMapper
    val all = (0 to 0x7f).map(_.toChar).mkString
    (all +: "\"\\" +: all.map(_.toString)).foreach { s =>
      assert(mapper.readValue(Harness.jsonString(s), classOf[String]) == s)
    }
  }

  test("Bench.measure times the queries that succeed and names the ones that throw") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(10).toDF()
    // throws inside the timed action, not at construction
    val boom: (SparkSession, String) => DataFrame =
      (s, _) => s.range(1).toDF().filter(raise_error(lit("boom")).isNull)
    val m = Bench.measure(spark, sfDir, Seq("ok" -> ok, "boom" -> boom), runs = 2)
    assert(m.times.map(_._1) == Seq("ok"))
    assert(m.times.head._2 > 0)
    assert(m.failed == Seq("boom"))
  }
}
