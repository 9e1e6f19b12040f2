package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape the mains and the test suites share:
  * `local[cpus]` with as many shuffle partitions, UTC session time, and
  * no UI. Each caller adds only its own extras. */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
      // default; read as BIGINT nanos (queries derive epoch-µs from it,
      // matching DuckDB's µs truncation on the same file)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** A main's session: `SPARK_GRAFT_CPUS` cores (else `defaultCpus`),
    * Spark logging at WARN. */
  def forMain(defaultCpus: String = "4"): SparkSession = {
    val spark =
      builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
