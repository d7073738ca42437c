package graft

import org.apache.spark.sql.SparkSession

/** The local session every repo main runs on (Bench, TimeOne, Verify,
  * Explain, Stress): `local[SPARK_GRAFT_CPUS]` (default `defaultCpus`),
  * one shuffle partition per core, UTC session time zone, AQE on, int64
  * nanosecond parquet timestamps read as longs (see [[Tables.events]]),
  * UI off, log level WARN.
  */
object Session {
  def local(defaultCpus: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
