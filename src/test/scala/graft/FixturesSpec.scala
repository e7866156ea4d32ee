package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType,
  TimestampType}
import graft.ingest.{Sources, Tables}
import graft.sink.ChangelogSink

/** Guards the fixture/loader contract against environment-side testdata
  * regeneration: the driver has shipped `ts` columns as both
  * TIMESTAMP(NANOS) and timestamp[us] (TIMESTAMP_NTZ) over time, and a
  * silent type flip once broke 9 driver entries (round 10). Every
  * timestamp column must come out of `Tables.load` as TimestampType, and
  * the Kafka-envelope stand-in must keep a TimestampType `timestamp`
  * (a real Kafka source's record timestamp is an instant, not a naive
  * local time).
  */
class FixturesSpec extends SparkSpec {

  private val tsColsByTable =
    Map("events" -> "ts", "lineitem" -> "l_shipdate", "orders" -> "o_orderdate")

  for ((table, c) <- tsColsByTable)
    test(s"Tables.load($table).$c is TimestampType") {
      val dt = Tables.load(spark, sf, table).schema(c).dataType
      assert(dt == TimestampType, s"$table.$c loaded as $dt")
    }

  test("envelope timestamp from the events fixture source is TimestampType") {
    val env = Sources.eventsAsRecords(spark, sf)
    assert(env.schema("timestamp").dataType == TimestampType)
  }

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  test("all fixture tables load with rows at sf0.001") {
    for (t <- tables) assert(Tables.load(spark, sf, t).limit(1).count() == 1L, s"$t empty")
  }

  test("opening a table runs no Spark job, with the schema and rows " +
      "Spark's inference gives: every fixture table and the changelog") {
    for (t <- tables) {
      val p = s"$sf/$t.parquet"
      val (_, jobs) = withJobCount(Tables.load(spark, sf, t).schema)
      assert(jobs == 0, s"$t: $jobs jobs at open")
      val inferred = spark.read.parquet(p)
      val opened = Tables.parquet(spark, p)
      assert(opened.schema == inferred.schema, t)
      assert(opened.exceptAll(inferred).isEmpty &&
        inferred.exceptAll(opened).isEmpty, t)
    }
    // a changelog table with a dated and a null-timestamp partition
    val dir = Files.createTempDirectory("changelog-open").toString
    import spark.implicits._
    ChangelogSink.append(Seq(
      ("T", 0, 1L, "T+0+1", "k", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-05-01T20:00:00Z"))),
      ("T", 0, 2L, "T+0+2", "k", null: java.sql.Timestamp))
      .toDF("topic", "partition", "offset", "uid", "key", "timestamp"), dir)
    val (schema, jobs) = withJobCount(ChangelogSink.read(spark, dir).schema)
    assert(jobs == 0)
    assert(schema == spark.read.parquet(dir).schema)
  }

  test("both fixture timestamp shapes: the opened schema is the inferred " +
      "one, and Tables.load converts each to the same instant") {
    // 2024-05-01T20:00:00.123456789Z; micros truncate the nanos
    val nanos = 1714593600123456789L
    for ((unit, value, raw) <- Seq[(TimeUnit, Long, DataType)](
        (TimeUnit.NANOS, nanos, LongType),
        (TimeUnit.MICROS, nanos / 1000, TimestampNTZType))) {
      val sfDir = Files.createTempDirectory(s"ts-$unit").toString
      val file = new Path(s"$sfDir/events.parquet")
      val schema = Types.buildMessage().required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, unit))
        .named("ts").named("events")
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration)).withType(schema).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("ts", value))
      finally writer.close()
      val (opened, jobs) =
        withJobCount(Tables.parquet(spark, file.toString).schema)
      assert(jobs == 0)
      val inferred = spark.read.parquet(file.toString).schema
      assert(inferred("ts").dataType == raw, unit)
      assert(opened == inferred, unit)
      val loaded = Tables.load(spark, sfDir, "events")
      assert(loaded.schema("ts").dataType == TimestampType, unit)
      assert(loaded.select(unix_micros(col("ts"))).collect()
        .map(_.getLong(0)).toSeq == Seq(nanos / 1000), unit)
    }
  }
}
