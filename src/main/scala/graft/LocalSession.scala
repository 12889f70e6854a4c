package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder of the entry points (Bench,
  * Profile, Explain, Verify, Stress, StressDelta):
  * `local[cpus]`, one shuffle partition per core, the session time zone
  * pinned to UTC (the [[graft.sources.EventLog.tsUs]] contract), no UI,
  * WARN logging. */
object LocalSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
