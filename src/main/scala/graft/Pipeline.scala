package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.Sources
import graft.model.Envelope
import graft.transform.Transforms

/**
 * The composed batch pipeline over the fixture topic: source → enrich
 * (converter + SMT-chain semantics) → envelope. This is the E2 ingest path
 * of the reference (SURVEY.md §3) as one lazy Catalyst plan — the driver
 * plans it once and executors stream it; no per-record driver work.
 */
object Pipeline {

  /** JSON-string field name for the events payload (the reference uses
   * "value", kafana.http:80-81; the events payload already carries a
   * `value` column, and duplicate struct fields are illegal in Connect and
   * Spark alike, so this deployment configures `value_json`). */
  val ValueJsonField = "value_json"

  /** Envelope frame (nested `message` struct) for the simulated topic. */
  def envelope(spark: SparkSession, sfDir: String): DataFrame =
    Transforms.enrich(ValueJsonField)(Sources.eventsAsRecords(spark, sfDir))

  /**
   * Heterogeneous two-topic changelog (events + orders): the flat view of
   * the envelopes' `unionByName` with missing columns null — the union
   * rule [[graft.ingest.AvroIngest.ingestTopics]] applies, and the
   * reference's multiple-topics-into-one-index model (kafana.http:75).
   * The JSON field keeps both payload shapes searchable.
   */
  def multiTopicFlat(spark: SparkSession, sfDir: String): DataFrame =
    Envelope.flat(envelope(spark, sfDir).unionByName(
      Transforms.enrich(ValueJsonField)(
        Sources.ordersAsRecords(spark, sfDir)),
      allowMissingColumns = true))

  /**
   * Oracle-friendly flat projection of the envelope ([[Envelope.flat]]):
   * every payload field and metadata field as a top-level column. Column
   * order/names are the stable contract the DuckDB oracle reproduces.
   */
  def envelopeFlat(spark: SparkSession, sfDir: String): DataFrame =
    Envelope.flat(envelope(spark, sfDir))
}
