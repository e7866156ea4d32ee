package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every main and the test suite
  * start from, so the answer `Verify` checks and the time `Bench` reports
  * come from the same settings. Callers add only deployment settings
  * (app name, warehouse and work dirs) before `getOrCreate()`. */
object Session {
  /** `SPARK_GRAFT_CPUS` if set, else every core of the host. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cores: Int = Session.cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // fixtures store TIMESTAMP(NANOS); graft.ingest.Tables converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixtures are single parquet files: with the default 128 MB split
      // size every scan is ONE task; smaller splits parallelize the scan
      // across the local cores (on a real cluster the same knob balances
      // split count against task overhead)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      // graft's native SQL functions in every session state built from
      // this context, newSession() included
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
