package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Canonical enriched-record envelope of the engine — the Spark-native
 * re-expression of the ES document the reference's SMT chain produces
 * (reference: kafana.http:79-93; README.md:10-14).
 *
 * One row per ingested record (append-only changelog; `uid` is the
 * `topic+partition+offset` identity the reference uses as the ES `_id`,
 * reference: README.md:11). Updates to a key produce NEW rows; nothing is
 * overwritten. Tombstones (null values) are materialized as rows whose
 * serialized-value field carries the sentinel string "TOMBSTONE"
 * (reference: convert/.../TombstoneAwareAvroConverter.java:27-30).
 *
 * Envelope shape:
 * {{{
 *   message   STRUCT<...payload fields..., <valueJsonField>: STRING>
 *   timestamp TIMESTAMP   -- record (event) time
 *   topic     STRING
 *   partition INT
 *   offset    LONG
 *   key       STRING
 *   uid       STRING      -- concat_ws("+", topic, partition, offset)
 * }}}
 *
 * Scale posture: the envelope is a plain columnar row — no per-record
 * driver work, no RDD; `uid` uniqueness is free (Kafka coordinates), so
 * the sink drops a replayed record on append, and it partitions by
 * (topic, date) so 100 TB of changelog prunes to the scanned topics/days.
 */
object Envelope {

  /** The sentinel the reference substitutes for null (tombstone) values. */
  val Tombstone = "TOMBSTONE"

  /** Fixed metadata columns every envelope row carries (payload-independent). */
  val metaSchema: Seq[StructField] = Seq(
    StructField("timestamp", TimestampType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("key", StringType)
  )

  /** Changelog row identity: topic+partition+offset (reference: README.md:11). */
  def uid(topic: Column, partition: Column, offset: Column): Column =
    concat_ws("+", topic, partition, offset)

  def uid: Column = uid(col("topic"), col("partition"), col("offset"))

  /** The flat view of an envelope: the identity and metadata columns,
    * then every `message` field as a top-level column, in the struct's
    * order. The one projection behind every flat frame and its DuckDB
    * oracle; over a multi-topic union the fields of topics after the
    * first come after the first topic's, as `unionByName` appends them. */
  def flat(env: DataFrame): DataFrame =
    env.select(col("uid"), col("key"), col("topic"), col("partition"),
      col("offset"), col("timestamp"), col("message.*"))
}
