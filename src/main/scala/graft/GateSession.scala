package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession of the gate harness (Bench, Verify, the test
  * suite and the drives): a local master with `cores` threads and as
  * many shuffle partitions, no UI, parquet nanosecond timestamps read
  * as longs, and a UTC session time zone. */
object GateSession {
  def apply(cores: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
