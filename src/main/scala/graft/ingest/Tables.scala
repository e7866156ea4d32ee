package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Central loader for the fixture tables (TESTDATA.md).
 *
 * Driver-generated parquet has shipped timestamps two ways over time:
 *
 *  - INT64 TIMESTAMP(NANOS) (pyarrow default), which Spark's parquet
 *    reader rejects outright ([PARQUET_TYPE_ILLEGAL]). The supported
 *    route is the `spark.sql.legacy.parquet.nanosAsLong` flag (set by
 *    `graft.Session`; this loader requires it and never writes conf) —
 *    nanos arrive as LongType — after which we restore a true TimestampType
 *    via integer-division to micros. Truncation matches what DuckDB does
 *    when it reads the same files, so oracle parity is preserved.
 *  - timestamp[us] with isAdjustedToUTC=false, which Spark reads as
 *    TIMESTAMP_NTZ. The engine's contract (and a real Kafka source's) is
 *    TimestampType, so we cast NTZ → TimestampType here. The session TZ
 *    is pinned to UTC, so the instant is unchanged, and DuckDB reads the
 *    same file as a naive timestamp — oracle parity again holds.
 *
 * Every consumer must come through this loader (CLAUDE.md invariant) so
 * the rest of the engine only ever sees TimestampType.
 */
object Tables {

  /** Timestamp-typed columns per fixture table (FIXTURES.md §B). */
  private val tsCols: Map[String, Seq[String]] = Map(
    "events"   -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders"   -> Seq("o_orderdate")
  )

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "Tables.load needs spark.sql.legacy.parquet.nanosAsLong=true; " +
        "build the session with graft.Session")
    var df = spark.read.parquet(s"$sfDir/$name.parquet")
    for (c <- tsCols.getOrElse(name, Nil)) df.schema(c).dataType match {
      case LongType         => df = df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df = df.withColumn(c, col(c).cast(TimestampType))
      case _                => ()
    }
    df
  }
}
