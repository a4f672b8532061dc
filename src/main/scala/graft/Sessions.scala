package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration. Bench, Verify, the developer tools and
  * the test suite all build their local session here, so each runs under
  * the configuration the others are measured and checked with.
  * [[GraftExtensions]] sets the generated-class cache bound for every graft
  * session, these included.
  */
object Sessions {

  /** A `local[cpus]` session with one shuffle partition per CPU, UTC time,
    * the engine's injected functions and rules, and WARN-level logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The CPU count from SPARK_GRAFT_CPUS, or `default` when it is unset. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
