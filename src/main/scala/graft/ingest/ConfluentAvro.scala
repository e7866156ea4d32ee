package graft.ingest

import java.math.BigInteger
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericDatumReader, GenericFixed, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * S1 — the Avro source decode, Spark-natively (reference:
 * convert/.../TombstoneAwareAvroConverter.java:26-31 plus the Confluent
 * wire format used by the registry stack: 1 magic byte 0x0 + 4-byte
 * big-endian schema id + Avro binary body).
 *
 * SCHEMA-ID DISPATCH + EVOLUTION: the reference resolves the writer
 * schema per record from the frame's schema id by delegating to
 * Confluent's `AvroConverter` (TombstoneAwareAvroConverter.java:16-23,
 * kafana.http:74), which is how a topic whose schema evolved keeps
 * decoding. Here the same contract is the pluggable [[SchemaResolver]]
 * interface (fixtures use [[StaticSchemaRegistry]]; production plugs a
 * registry-REST-backed implementation) plus a single `reader` schema the
 * caller wants the data AS: each record's writer schema is resolved from
 * its own frame's id, and Avro schema resolution (the spec's evolution
 * rules — added-field-with-default, field reordering, promotions) maps
 * writer → reader. Resolved `GenericDatumReader`s are cached per writer
 * id, so a remote resolver is hit once per id per executor.
 *
 * Both decode expressions are Catalyst `Expression`s (not Scala UDFs):
 * schemas/readers are built once per executor via transient-lazy fields —
 * the plan ships only the schema JSON strings. CodegenFallback is
 * deliberate: the body is a library decode call with nothing for codegen
 * to fuse; surrounding expressions stay inside whole-stage codegen.
 *
 * The tombstone rule holds without a check of its own, exactly like the
 * reference (null check precedes decode — the converter filters
 * `SchemaAndValue.NULL` before ever touching Avro): both expressions are
 * `UnaryExpression`s, so a null frame yields null and never reaches
 * Avro; T1 ([[graft.transform.Transforms.insertValueAsString]]) then
 * writes the sentinel.
 */
private[ingest] trait WireFormatDecode {
  def resolver: SchemaResolver
  def readerSchemaJson: String

  @transient protected lazy val readerSchema: Schema =
    new Schema.Parser().parse(readerSchemaJson)
  @transient private lazy val readers =
    new java.util.concurrent.ConcurrentHashMap[Int, GenericDatumReader[Any]]
  // one shared reader + one WARN for ALL unknown ids: in PERMISSIVE mode
  // corrupt frames with a valid magic byte carry arbitrary 4-byte ids, so
  // caching (or logging) per unknown id would grow without bound on a
  // long-running ingest of garbage — the readers map holds resolved ids
  // only and stays bounded by the registry size
  @transient private lazy val fallbackWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  @transient private lazy val fallbackReader: GenericDatumReader[Any] =
    new GenericDatumReader[Any](
      new Schema.Parser().parse(resolver.soleSchema.get), readerSchema)

  /** Validate framing, read the schema id, return the resolved reader.
    * A resolver in single-schema convenience mode ([[SchemaResolver
    * .soleSchema]]) answers any unknown id with that one schema — real
    * registries rarely assign id 1, so externally produced frames rely
    * on this pre-dispatch behavior. Multi-schema resolvers stay strict:
    * a miss is a genuine config error. */
  protected def readerFor(bytes: Array[Byte]): GenericDatumReader[Any] = {
    if (bytes.length < 5 || bytes(0) != 0)
      throw new IllegalArgumentException(
        s"not Confluent wire format (len=${bytes.length})")
    val id = ByteBuffer.wrap(bytes, 1, 4).getInt
    resolver.resolve(id) match {
      case Some(writer) =>
        readers.computeIfAbsent(id, { _ =>
          // writer→reader resolution = the Avro spec's evolution rules
          new GenericDatumReader[Any](
            new Schema.Parser().parse(writer), readerSchema)
        })
      case None if resolver.soleSchema.isDefined =>
        // Avro binary is not self-describing: decoding a frame written
        // with a genuinely different schema under this fallback yields
        // corrupt values, not a clean error — warn (once per executor)
        // so the convenience path never fails silently
        if (fallbackWarned.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"confluent_avro_decode: schema id $id not registered; " +
              s"falling back to the single supplied schema (single-schema " +
              s"convenience mode) — register an id->schema resolver for " +
              s"strict dispatch")
        fallbackReader
      case None => throw new IllegalArgumentException(
        s"schema id $id not registered (known: ${resolver.knownIds.mkString(",")})")
    }
  }

  protected def decodeBody(bytes: Array[Byte]): Any = {
    val dec = DecoderFactory.get()
      .binaryDecoder(bytes, 5, bytes.length - 5, null)
    readerFor(bytes).read(null, dec)
  }
}

/** JSON-string flavor: the decoded record rendered as Avro's JSON
  * encoding (`GenericRecord.toString`) — the schemaless "searchable
  * string" view. */
case class ConfluentAvroDecode(child: Expression,
    resolver: SchemaResolver, readerSchemaJson: String,
    permissive: Boolean = false)
    extends UnaryExpression with CodegenFallback with WireFormatDecode {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    try UTF8String.fromString(
      String.valueOf(decodeBody(input.asInstanceOf[Array[Byte]])))
    catch {
      // PERMISSIVE mode (from_json analog): a torn/corrupt frame becomes
      // a NULL row instead of aborting the job — at 100 TB a handful of
      // bad records must not kill a long-running ingest
      case scala.util.control.NonFatal(_) if permissive => null
    }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "confluent_avro_decode"
}

/**
 * Typed flavor: decodes straight to a Catalyst struct (no JSON
 * round-trip) with the FULL Avro type surface — primitives, records,
 * arrays, maps, enums, fixed, multi-branch unions (struct-of-members),
 * and the logical types (decimal on bytes/fixed, date,
 * timestamp-millis/micros, uuid) — the surface the reference inherits
 * from `AvroConverter` (SURVEY.md §1.3).
 */
case class ConfluentAvroDecodeStruct(child: Expression,
    resolver: SchemaResolver, readerSchemaJson: String,
    permissive: Boolean = false)
    extends UnaryExpression with CodegenFallback with WireFormatDecode {

  override def dataType: DataType = ConfluentAvro.sparkType(readerSchema)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    try ConfluentAvro.toCatalyst(
      decodeBody(input.asInstanceOf[Array[Byte]]), readerSchema)
    catch { // see ConfluentAvroDecode: PERMISSIVE nulls corrupt frames
      case scala.util.control.NonFatal(_) if permissive => null
    }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "confluent_avro_decode_struct"
}

object ConfluentAvro {

  import org.apache.spark.sql.GraftColumnBridge

  /** Typed struct decode, single schema. */
  def decodeStruct(value: Column, schemaJson: String): Column =
    decodeStruct(value, StaticSchemaRegistry(Map(1 -> schemaJson)), schemaJson)

  /** Registry-style typed decode: per-record writer dispatch, data
    * surfaced AS the reader schema (evolution applied per record). */
  def decodeStruct(value: Column, writerSchemas: Map[Int, String],
      readerSchemaJson: String): Column =
    decodeStruct(value, StaticSchemaRegistry(writerSchemas), readerSchemaJson)

  /** Typed decode against any [[SchemaResolver]]. */
  def decodeStruct(value: Column, resolver: SchemaResolver,
      readerSchemaJson: String): Column =
    GraftColumnBridge.column(ConfluentAvroDecodeStruct(
      GraftColumnBridge.expression(value), resolver, readerSchemaJson))

  /** PERMISSIVE typed decode — the `from_json` PERMISSIVE analog:
    * corrupt/undecodable frames yield NULL instead of failing the job
    * (count/quarantine the NULLs downstream; the strict default remains
    * fail-fast so config errors stay loud). */
  def decodeStructPermissive(value: Column,
      writerSchemas: Map[Int, String], readerSchemaJson: String): Column =
    GraftColumnBridge.column(ConfluentAvroDecodeStruct(
      GraftColumnBridge.expression(value), StaticSchemaRegistry(writerSchemas),
      readerSchemaJson, permissive = true))

  /** PERMISSIVE JSON-string decode (see [[decodeStructPermissive]]). */
  def decodeJsonPermissive(value: Column,
      writerSchemas: Map[Int, String], readerSchemaJson: String): Column =
    GraftColumnBridge.column(ConfluentAvroDecode(
      GraftColumnBridge.expression(value), StaticSchemaRegistry(writerSchemas),
      readerSchemaJson, permissive = true))

  /** Non-null union branches of a union schema. */
  private def unionBranches(s: Schema): Seq[Schema] =
    s.getTypes.asScala.toSeq.filter(_.getType != Schema.Type.NULL)

  /**
   * Avro schema → Spark type: full surface. Logical types take
   * precedence over their carrier primitive (decimal → DecimalType,
   * date → DateType, timestamp-millis/micros → TimestampType, uuid →
   * StringType); multi-branch unions become a struct of one nullable
   * `member_<n>` field per branch (exactly one is non-null per value) —
   * the standard relational rendering of a sum type.
   */
  def sparkType(s: Schema): DataType = (s.getType, s.getLogicalType) match {
    case (_, d: LogicalTypes.Decimal) =>
      DecimalType(d.getPrecision, d.getScale)
    case (Schema.Type.INT, _: LogicalTypes.Date) => DateType
    case (Schema.Type.LONG, _: LogicalTypes.TimestampMillis) => TimestampType
    case (Schema.Type.LONG, _: LogicalTypes.TimestampMicros) => TimestampType
    case (t, _) => t match {
      case Schema.Type.STRING  => StringType
      case Schema.Type.INT     => IntegerType
      case Schema.Type.LONG    => LongType
      case Schema.Type.FLOAT   => FloatType
      case Schema.Type.DOUBLE  => DoubleType
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.BYTES   => BinaryType
      case Schema.Type.FIXED   => BinaryType
      case Schema.Type.ENUM    => StringType
      case Schema.Type.ARRAY   => ArrayType(sparkType(s.getElementType))
      case Schema.Type.MAP     => MapType(StringType, sparkType(s.getValueType))
      case Schema.Type.RECORD  =>
        StructType(s.getFields.asScala.toSeq.map(f =>
          StructField(f.name(), sparkType(f.schema()))))
      case Schema.Type.UNION   =>
        unionBranches(s) match {
          case Seq(only) => sparkType(only)
          case branches => StructType(branches.zipWithIndex.map {
            case (b, i) => StructField(s"member_$i", sparkType(b))
          })
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported avro type $other")
    }
  }

  /** Avro in-memory value → Catalyst internal value, mirroring
    * [[sparkType]] case-for-case. */
  private[ingest] def toCatalyst(value: Any, s: Schema): Any = {
    if (value == null) return null
    (s.getType, s.getLogicalType) match {
      case (_, d: LogicalTypes.Decimal) =>
        val unscaled = value match {
          case f: GenericFixed => f.bytes()
          case b: ByteBuffer =>
            val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
        }
        Decimal(new java.math.BigDecimal(
          new BigInteger(unscaled), d.getScale), d.getPrecision, d.getScale)
      case (Schema.Type.INT, _: LogicalTypes.Date) =>
        value // days since epoch: Avro and Catalyst agree
      case (Schema.Type.LONG, _: LogicalTypes.TimestampMillis) =>
        value.asInstanceOf[Long] * 1000L // Catalyst is micros
      case (Schema.Type.LONG, _: LogicalTypes.TimestampMicros) => value
      case (t, _) => t match {
        case Schema.Type.STRING | Schema.Type.ENUM =>
          UTF8String.fromString(String.valueOf(value))
        case Schema.Type.INT | Schema.Type.LONG | Schema.Type.FLOAT |
             Schema.Type.DOUBLE | Schema.Type.BOOLEAN => value
        case Schema.Type.BYTES =>
          val b = value.asInstanceOf[ByteBuffer]
          val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
        case Schema.Type.FIXED => value.asInstanceOf[GenericFixed].bytes()
        case Schema.Type.ARRAY =>
          val el = s.getElementType
          new GenericArrayData(value.asInstanceOf[java.util.List[Any]]
            .asScala.map(toCatalyst(_, el)).toArray)
        case Schema.Type.MAP =>
          val vt = s.getValueType
          // one entrySet pass: keys/values stay paired even if the map's
          // iteration order isn't stable across traversals
          val entries = value.asInstanceOf[java.util.Map[Any, Any]]
            .entrySet().asScala.toArray
          ArrayBasedMapData(
            entries.map(e => UTF8String.fromString(String.valueOf(e.getKey))),
            entries.map(e => toCatalyst(e.getValue, vt)))
        case Schema.Type.RECORD =>
          val rec = value.asInstanceOf[GenericRecord]
          val fields = s.getFields.asScala
          val out = new Array[Any](fields.size)
          var i = 0
          while (i < fields.size) {
            out(i) = toCatalyst(rec.get(i), fields(i).schema())
            i += 1
          }
          new GenericInternalRow(out): InternalRow
        case Schema.Type.UNION =>
          unionBranches(s) match {
            case Seq(only) => toCatalyst(value, only)
            case branches =>
              // resolve the active branch by Avro's own union resolution
              val idx = org.apache.avro.generic.GenericData.get()
                .resolveUnion(s, value)
              val branch = s.getTypes.get(idx)
              val out = new Array[Any](branches.size)
              val memberIdx = branches.indexWhere(_ eq branch)
              if (memberIdx >= 0)
                out(memberIdx) = toCatalyst(value, branch)
              new GenericInternalRow(out): InternalRow
          }
        case other =>
          throw new IllegalArgumentException(s"unsupported avro type $other")
      }
    }
  }
}
