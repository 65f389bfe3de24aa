package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a local session is configured: Bench, Verify, Explain,
  * the tools and the test suite all build theirs here, so their configs
  * cannot drift apart. Only what differs from Spark's defaults is set —
  * Spark 4.1 already runs AQE with partition coalescing and skew-join
  * splitting on (HarnessSpec pins those defaults). */
object Harness {
  /** Local cores for the harness mains: SPARK_GRAFT_CPUS, default 4. */
  val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]`, shuffle partitions = cores, UTC, no UI, WARN logs. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns "No Partition Defined for Window operation!" on
    // every unpartitioned window, a flood that buries the useful tail of
    // Bench, Verify and test logs.
    Configurator.setLevel("org.apache.spark.sql.execution.window", Level.ERROR)
    spark
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in authored SQL or a quote in a path must not
    * break a contract line or the json.load of an artifact. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
