package perfbench

import java.nio.file.Path

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

import graft.ingest.AvroIngest
import graft.sink.ChangelogSink

/** Generated batches as Kafka-record-frame parquet, and the ingest call. */
object Frames {

  private val schema = MessageTypeParser.parseMessageType(
    """message record {
      |  optional binary key (STRING);
      |  optional binary value;
      |  optional binary topic (STRING);
      |  optional int32 partition;
      |  optional int64 offset;
      |  optional int64 timestamp (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** Write each batch under `dir` as one parquet file per Kafka
    * partition's worth of records, so a batch reads as that many splits;
    * returns each batch's directory. Written in this JVM, without a Spark
    * job. */
  def write(spark: SparkSession, batches: Seq[Gen.Batch], dir: Path): IndexedSeq[(Gen.Batch, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val groups = new SimpleGroupFactory(schema)
    batches.toIndexedSeq.map { b =>
      val bdir = dir.resolve(f"batch-${b.index}%03d")
      val per = math.max(1, (b.records.size + Gen.Partitions - 1) / Gen.Partitions)
      b.records.grouped(per).zipWithIndex.foreach { case (recs, i) =>
        val w = ExampleParquetWriter.builder(new HPath(bdir.resolve(s"part-$i.parquet").toString))
          .withType(schema).withConf(conf).build()
        try recs.foreach { r =>
          val g = groups.newGroup().append("key", r.key)
          if (r.value != null) g.append("value", Binary.fromConstantByteArray(r.value))
          w.write(g.append("topic", r.topic).append("partition", r.partition)
            .append("offset", r.offset).append("timestamp", r.tsMicros))
        } finally w.close()
      }
      (b, bdir.toString)
    }
  }

  /** One batch through decode, the SMT chain and the changelog append. */
  def ingest(spark: SparkSession, tr: Tracer, batch: Gen.Batch, path: String, sink: String): Unit = {
    val records = tr.span("ingest.read")(spark.read.parquet(path))
    val env = tr.span("transform.ingest_topic")(
      AvroIngest.ingestTopic(records, Gen.schemaOf(batch.topic), Gen.JsonField))
    tr.span("sink.append")(ChangelogSink.append(env, sink))
  }
}
