package graft.ingest

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/**
 * Central loader for the fixture tables (TESTDATA.md), and the one owner
 * of opening parquet without a schema ([[footerSchema]], [[parquet]]):
 * every such open in the engine comes through here, so none runs a
 * schema-inference Spark job.
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
    var df = parquet(spark, s"$sfDir/$name.parquet")
    for (c <- tsCols.getOrElse(name, Nil)) df.schema(c).dataType match {
      case LongType         => df = df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df = df.withColumn(c, col(c).cast(TimestampType))
      case _                => ()
    }
    df
  }

  /**
   * The data schema Spark's parquet inference (`mergeSchema` off) gives
   * `path`, read on the driver instead of in a one-task Spark job; None
   * when `path` holds no data file. Spark's inference reads one footer
   * too; here it is the footer of the first visible data file in sorted
   * name order: one listing per directory on the way down, `.`/`_` names
   * (staging dirs, hidden swap originals, `_SUCCESS`, a streaming sink's
   * `_spark_metadata`) skipped. The footer goes through Spark's own
   * conversion: the Spark schema stored under
   * `org.apache.spark.sql.parquet.row.metadata` when the file has one,
   * else `ParquetToSparkSchemaConverter` under the session's flags, so
   * TIMESTAMP(NANOS) is LongType under `nanosAsLong` and an unadjusted
   * micros timestamp is TIMESTAMP_NTZ, as inference has them. Fields keep
   * the file's nullability, and partition columns are not in it: a read
   * with this schema makes every field nullable and discovers the
   * partition columns from the directory names, as an inferring read
   * does.
   */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def firstDataFile(s: FileStatus): Option[Path] =
      if (s.isFile) Some(s.getPath)
      else fs.listStatus(s.getPath)
        .filterNot(c => c.getPath.getName.startsWith(".") ||
          c.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName).iterator
        .flatMap(firstDataFile).nextOption()
    val first =
      if (fs.exists(root)) firstDataFile(fs.getFileStatus(root)) else None
    first.map { file =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /**
   * `spark.read.parquet(paths: _*)` without its schema-inference job:
   * the same frame, read with the [[footerSchema]] of the first path that
   * has a data file. With no data file under any path it is Spark's own
   * read, which fails as inference does (no footer, so no job either).
   */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    paths.iterator.flatMap(footerSchema(spark, _)).nextOption()
      .fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
}
