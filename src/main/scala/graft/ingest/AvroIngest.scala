package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Envelope
import graft.transform.Transforms

/**
 * E2 — the reference's ingest path composed end-to-end for Avro topics
 * (SURVEY.md §3): framed-Avro record frame → S1 decode (tombstone-aware)
 * → T1–T7 enrichment → envelope; heterogeneous topics union into one
 * changelog table exactly like the single ES index over `foo,bar`
 * (reference: kafana.http:75).
 */
object AvroIngest {

  /** Decode a topic's framed-Avro `value` column into its typed value: a
    * struct for a record schema, the bare value for a primitive one. A
    * null frame (tombstone) stays null without reaching Avro; T1
    * ([[Transforms.insertValueAsString]]) writes the sentinel and wraps a
    * primitive into the `message` struct. */
  def decodeTopic(records: DataFrame, schemaJson: String): DataFrame =
    records.withColumn("value",
      ConfluentAvro.decodeStruct(col("value"), schemaJson))

  /** One topic: decode + full SMT-chain enrichment. */
  def ingestTopic(records: DataFrame, schemaJson: String,
      valueJsonField: String = "value"): DataFrame =
    Transforms.enrich(valueJsonField)(decodeTopic(records, schemaJson))

  /**
   * Multi-topic changelog: the per-topic envelopes unioned by name with
   * missing columns allowed, so `message` carries every topic's payload
   * fields (the first topic's first) — Foo rows hold null Bar fields and
   * vice versa, while the JSON-string field keeps every payload
   * searchable across schemas (the reference's key trick, SURVEY.md §7
   * hard-parts). The result is an envelope: one
   * [[graft.sink.ChangelogSink.append]] stores it and
   * [[graft.query.Changelog]] queries it. The union is plan-level only —
   * no shuffle, no repartition.
   */
  def ingestTopics(perTopic: Seq[(DataFrame, String)],
      valueJsonField: String = "value"): DataFrame =
    perTopic.map { case (records, schema) =>
      ingestTopic(records, schema, valueJsonField)
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Writer schema v1 of the evolution demo topic. */
  val EventV1: String =
    """{"type":"record","name":"Event","namespace":"com.example","fields":[
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"}]}""".stripMargin

  /** Writer schema v2: adds `props` WITH A DEFAULT — the registry's
    * BACKWARD-compatibility contract (the reference gates exactly this in
    * its build: pom.xml:101-117 schema-registry:test-compatibility). */
  val EventV2: String =
    """{"type":"record","name":"Event","namespace":"com.example","fields":[
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"},
      |{"name":"props","type":"string","default":"n/a"}]}""".stripMargin

  /**
   * The reference's ACTUAL byte-level contract end-to-end (kq22): the
   * events fixture re-shaped into a Kafka record frame whose `value` is
   * Confluent-FRAMED BYTES (magic 0 + 4-byte schema id + Avro body,
   * kafana.http:1-61), with every 50th offset a REAL tombstone (null
   * bytes) — then the exact ingest chain a live deployment runs:
   * tombstone-check-before-decode (TombstoneAwareAvroConverter.java:26-31)
   * → S1 Avro decode → T1-T7 enrichment → flat envelope. The output must
   * be row-identical to the parquet-shaped [[graft.Pipeline.envelopeFlat]]
   * (the DuckDB oracle is the same `env` CTE), which proves S2 encode and
   * S1 decode are lossless inverses INSIDE the driver's correctness gate,
   * not just in specs: doubles round-trip bit-for-bit through Avro,
   * strings byte-for-byte, and the tombstone path materializes the same
   * sentinel.
   */
  def wirePathEnvelope(spark: SparkSession, dir: String,
      valueJsonField: String = "value_json"): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val framed = ev.select(
      col("user_id").cast("string").as("key"),
      when(col("event_id") % Sources.TombstoneEvery === 0,
        lit(null).cast("binary"))
        .otherwise(ConfluentAvroEncode.encode(
          struct(col("event_type"), col("value"), col("props")), EventV2, 1))
        .as("value"),
      lit("events").as("topic"),
      pmod(col("user_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"))
    Envelope.flat(ingestTopic(framed, EventV2, valueJsonField))
  }

  /**
   * Schema-evolution demo (kq10): ONE topic whose records were written
   * under two registered schema versions — even offsets under v1, odd
   * offsets under v2 (ids 1 and 2 in the frame) — decoded in a single
   * pass with per-record writer dispatch and surfaced AS the evolved
   * reader schema: v1 records come back with `props = "n/a"` (the
   * default), v2 records with their written value. This is the normal
   * registry workflow the reference inherits from Confluent's
   * `AvroConverter` (TombstoneAwareAvroConverter.java:16-23,
   * kafana.http:74): the 4-byte schema id in each frame selects the
   * writer schema; Avro resolution maps it onto the reader.
   *
   * The encode half runs in the same plan (fixture events → framed
   * bytes), so the query exercises S2 encode → S1 id-dispatch decode →
   * evolution end-to-end, and the DuckDB oracle checks the result against
   * the raw table with the default spliced in.
   */
  def evolutionDemo(spark: SparkSession, dir: String): DataFrame =
    evolutionDecoded(spark, dir, StaticSchemaRegistry(
      Map(1 -> EventV1, 2 -> EventV2))).orderBy(col("event_id"))

  /** The evolution demo's frame: each event encoded under v1 (even
    * ids, schema id 1) or v2 (odd ids, schema id 2), decoded through
    * `resolver` as v2, and projected to its three payload fields. */
  private def evolutionDecoded(spark: SparkSession, dir: String,
      resolver: SchemaResolver): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"),
        when(pmod(col("event_id"), lit(2)) === 0,
          ConfluentAvroEncode.encode(
            struct(col("event_type"), col("value")), EventV1, 1))
          .otherwise(ConfluentAvroEncode.encode(
            struct(col("event_type"), col("value"), col("props")),
            EventV2, 2))
          .as("framed"))
      .select(col("event_id"),
        ConfluentAvro.decodeStruct(col("framed"), resolver, EventV2)
          .as("v"))
      .select(col("event_id"), col("v.*"))

  /**
   * [[evolutionDemo]] through a LIVE REST registry (kq103): an
   * in-process HTTP server speaks the Confluent protocol
   * (`GET /schemas/ids/{id}` → `{"schema": ...}`) and every task
   * resolves writer schemas over the wire via [[HttpSchemaResolver]] —
   * the production resolution path, driver-checked against the same
   * oracle as the static-map decode (identical output is the proof the
   * REST seam is transparent). The result is materialized
   * (localCheckpoint) while the registry is up, then the server stops —
   * the per-executor schema cache means the whole decode costs
   * O(#schemas x #resolver instances) HTTP calls, never O(rows).
   */
  def registryDemo(spark: SparkSession, dir: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemas = Map(1 -> EventV1, 2 -> EventV2)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/",
      new com.sun.net.httpserver.HttpHandler {
        override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          val id = ex.getRequestURI.getPath.stripPrefix("/schemas/ids/")
          val (code, body) = schemas.get(id.toIntOption.getOrElse(-1)) match {
            case Some(s) =>
              val node = mapper.createObjectNode()
              node.put("schema", s)
              (200, mapper.writeValueAsString(node))
            case None =>
              (404, """{"error_code":40403,"message":"Schema not found"}""")
          }
          val bytes = body.getBytes("UTF-8")
          ex.getResponseHeaders.set("Content-Type",
            "application/vnd.schemaregistry.v1+json")
          ex.sendResponseHeaders(code, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      })
    server.start()
    try {
      val resolver = HttpSchemaResolver(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      // materialize while the registry is live
      evolutionDecoded(spark, dir, resolver).localCheckpoint()
        .orderBy(col("event_id"))
    } finally server.stop(0)
  }
}
