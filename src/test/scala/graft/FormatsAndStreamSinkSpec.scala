package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sink.ChangelogSink
import graft.streaming.StreamPipeline
import graft.transform.Transforms

/** File-format coverage (SURVEY.md §2.3: parquet is the canonical sink;
  * json/csv/orc round-trip through the same envelope) and the streaming
  * foreachBatch sink + session windows. */
class FormatsAndStreamSinkSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("envelope round-trips through json, csv, and orc sinks") {
    val flat = Pipeline.envelopeFlat(spark, sf).where($"offset" < 100)
    val n = flat.count()
    val base = Files.createTempDirectory("formats").toString

    flat.write.json(s"$base/json")
    val fromJson = spark.read.json(s"$base/json")
    assert(fromJson.count() == n)

    flat.write.option("header", "true").csv(s"$base/csv")
    val fromCsv = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$base/csv")
    assert(fromCsv.count() == n)
    // spot value fidelity on a string and a numeric column
    val j = fromJson.where($"offset" === 1).select($"value_json").head().getString(0)
    val orig = flat.where($"offset" === 1).select($"value_json").head().getString(0)
    assert(j == orig)

    flat.write.orc(s"$base/orc")
    assert(spark.read.orc(s"$base/orc").count() == n)
  }

  case class Payload(event_type: String, value: Double, props: String)
  case class RecIn(key: String, value: Option[Payload], topic: String,
      partition: Int, offset: Long, timestamp: java.sql.Timestamp)

  private def rec(key: String, off: Long, minute: Int): RecIn =
    RecIn(key, Some(Payload("click", 1.0, "{}")), "events", 0, off,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"))

  test("foreachBatch streaming sink: partitioned append with uid dedup") {
    val dir = Files.createTempDirectory("streamsink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val in = MemoryStream[RecIn]
    val env = Transforms.enrich("value_json")(in.toDF())
    val q = ChangelogSink.streamAppend(env, s"$dir/table", ckpt)
    try {
      // duplicate record in one batch → deduped by uid
      in.addData(rec("a", 1, 0), rec("a", 1, 0), rec("b", 2, 1))
      q.processAllAvailable()
      val table = ChangelogSink.read(spark, s"$dir/table")
      assert(table.count() == 2)
      in.addData(rec("c", 3, 2))
      q.processAllAvailable()
      assert(ChangelogSink.read(spark, s"$dir/table").count() == 3)
    } finally q.stop()
  }

  test("foreachBatch streaming sink: a record re-delivered in a later " +
      "micro-batch, or a whole batch retried, is stored once") {
    val dir = Files.createTempDirectory("streamsink-replay").toString
    val in = MemoryStream[RecIn]
    val env = Transforms.enrich("value_json")(in.toDF())
    def stored(table: String): Long = ChangelogSink.read(spark, table).count()
    val q = ChangelogSink.streamAppend(env, s"$dir/table",
      Files.createTempDirectory("ckpt").toString)
    try {
      in.addData(rec("a", 1, 0), rec("b", 2, 1))
      q.processAllAvailable()
      assert(stored(s"$dir/table") == 2)
      // at-least-once delivery: offset 2 again, beside a new record
      in.addData(rec("b", 2, 1), rec("c", 3, 2))
      q.processAllAvailable()
      assert(stored(s"$dir/table") == 3)
      in.addData(rec("b", 2, 1))
      q.processAllAvailable()
      assert(stored(s"$dir/table") == 3)
    } finally q.stop()
    assertUidsUnique(s"$dir/table")
    // a retried foreachBatch: its body appends the same batch twice
    val again = MemoryStream[RecIn]
    again.addData(rec("a", 1, 0), rec("b", 2, 1), rec("b", 2, 1),
      rec("c", 3, 2))
    val retried = Transforms.enrich("value_json")(again.toDF()).writeStream
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ChangelogSink.append(batch, s"$dir/retried")
        ChangelogSink.append(batch, s"$dir/retried")
      }.start()
    try retried.processAllAvailable() finally retried.stop()
    assert(stored(s"$dir/retried") == 3)
    assertUidsUnique(s"$dir/retried")
  }

  test("session windows: gap-separated activity sessions per key") {
    val in = MemoryStream[RecIn]
    val env = Transforms.enrich("value_json")(in.toDF())
    val sessions = StreamPipeline.sessionActivity(env, gap = "5 minutes")
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      // key a: minutes 0,2 (one session) then 20 (a second session)
      in.addData(rec("a", 1, 0), rec("a", 2, 2), rec("a", 3, 20))
      q.processAllAvailable()
      val out = spark.table("sessions_out")
        .groupBy($"session_start").agg(max($"n_events").as("n"))
      assert(out.count() == 2)
      assert(out.agg(sum($"n")).as[Long].head() == 3)
    } finally q.stop()
  }
}
