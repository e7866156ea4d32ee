package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/**
 * Seeded generator of Kafka record frames for two heterogeneous topics.
 *
 * Each record's value is Confluent-framed Avro (magic 0, 4-byte schema
 * id, binary body), encoded here by hand so the inputs do not depend on
 * the program's own encoder. Keys are Zipf-skewed, 2% of values are
 * tombstones, about 1% of records are re-deliveries of an earlier
 * offset, and timestamps span `days` days with a few minutes of
 * disorder. The generator also records the answers the checks expect.
 */
object Gen {

  val Events = "events"
  val Orders = "orders"
  val Partitions = 4
  val JsonField = "value_json"
  val BaseMicros: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val DayMicros: Long = 86400L * 1000000L
  val DisorderMicros: Long = 5L * 60 * 1000000L

  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  val Statuses: Array[String] = Array("open", "shipped", "cancelled", "returned")
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW")

  val EventsSchema: String =
    """{"type":"record","name":"Event","namespace":"bench","fields":[
      |{"name":"event_type","type":"string"},
      |{"name":"amount","type":"double"},
      |{"name":"props","type":"string"}]}""".stripMargin

  val OrdersSchema: String =
    """{"type":"record","name":"Order","namespace":"bench","fields":[
      |{"name":"status","type":"string"},
      |{"name":"total_price","type":"double"},
      |{"name":"priority","type":"string"},
      |{"name":"items","type":"int"}]}""".stripMargin

  def schemaOf(topic: String): String = if (topic == Events) EventsSchema else OrdersSchema

  /** One Kafka record. `value == null` is a tombstone; `kind` is the
    * event type or order status the payload carries. */
  final case class Rec(key: String, value: Array[Byte], topic: String,
      partition: Int, offset: Long, tsMicros: Long, kind: String) {
    def uid: String = s"$topic+$partition+$offset"
    def tombstone: Boolean = value == null
  }

  final case class Batch(topic: String, index: Int, records: IndexedSeq[Rec])

  final case class Spec(flushes: Int, perBatch: Int, keys: Int, days: Int)

  // ---- Avro binary encoding -------------------------------------------

  private def writeLong(out: ByteArrayOutputStream, v: Long): Unit = {
    var n = (v << 1) ^ (v >> 63) // zigzag
    while ((n & ~0x7FL) != 0) { out.write(((n & 0x7F) | 0x80).toInt); n >>>= 7 }
    out.write(n.toInt)
  }

  private def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8); writeLong(out, b.length.toLong); out.write(b)
  }

  private def writeDouble(out: ByteArrayOutputStream, d: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(d)
    for (i <- 0 until 8) out.write(((bits >>> (8 * i)) & 0xFF).toInt)
  }

  /** Confluent wire frame around an Avro body: magic 0 + schema id 1. */
  private def frame(body: ByteArrayOutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream(48)
    out.write(0); out.write(0); out.write(0); out.write(0); out.write(1)
    body(out)
    out.toByteArray
  }

  // ---- generation -----------------------------------------------------

  /** Zipf(s = 1) inverse-CDF table over `n` ranks. */
  final class Zipf(n: Int) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n); var acc = 0.0
      for (i <- 0 until n) { acc += 1.0 / (i + 1); a(i) = acc }
      for (i <- 0 until n) a(i) /= acc
      a
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  def keyOf(rank: Int): String = s"u$rank"

  private def partitionOf(key: String): Int = Math.floorMod(key.hashCode, Partitions)

  /**
   * The batches of one run, in landing order: flush `j` holds one batch
   * per topic covering the j-th slice of the time span. The same seed
   * gives the same records, byte for byte.
   */
  def batches(seed: Long, spec: Spec): IndexedSeq[Batch] = {
    val rnd = new SplittableRandom(seed)
    val zipf = new Zipf(spec.keys)
    val nextOffset = mutable.Map.empty[(String, Int), Long].withDefaultValue(0L)
    val recent = Map(Events -> new mutable.ArrayBuffer[Rec](),
      Orders -> new mutable.ArrayBuffer[Rec]())
    val span = spec.days.toLong * DayMicros
    for {
      j <- 0 until spec.flushes
      (topic, t) <- Seq(Events, Orders).zipWithIndex
    } yield {
      val ring = recent(topic)
      val sliceStart = BaseMicros + span * j / spec.flushes
      val sliceLen = span / spec.flushes
      val recs = IndexedSeq.tabulate(spec.perBatch) { _ =>
        if (ring.nonEmpty && rnd.nextInt(100) == 0) ring(rnd.nextInt(ring.size)) // re-delivery
        else {
          val key = keyOf(zipf.sample(rnd))
          val p = partitionOf(key)
          val off = nextOffset((topic, p)); nextOffset((topic, p)) = off + 1
          val jitter = rnd.nextLong(2 * DisorderMicros + 1) - DisorderMicros
          val ts = math.max(BaseMicros, sliceStart + rnd.nextLong(sliceLen) + jitter)
          val tomb = rnd.nextInt(50) == 0
          val (kind, value) =
            if (topic == Events) {
              val et = EventTypes(rnd.nextInt(EventTypes.length))
              val amount = rnd.nextInt(20000) / 100.0
              val props = s"""{"k": ${rnd.nextInt(100)}}"""
              (et, if (tomb) null else frame { o =>
                writeString(o, et); writeDouble(o, amount); writeString(o, props) })
            } else {
              val st = Statuses(rnd.nextInt(Statuses.length))
              val price = rnd.nextInt(5000000) / 100.0
              val pr = Priorities(rnd.nextInt(Priorities.length))
              val items = 1 + rnd.nextInt(20)
              (st, if (tomb) null else frame { o =>
                writeString(o, st); writeDouble(o, price); writeString(o, pr)
                writeLong(o, items.toLong) })
            }
          val r = Rec(key, value, topic, p, off, ts, kind)
          if (ring.size < 4096) ring += r else ring(rnd.nextInt(ring.size)) = r
          r
        }
      }
      Batch(topic, 2 * j + t, recs)
    }
  }

  /** SHA-256 over every field of every record, in order. */
  def digest(batches: Seq[Batch]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def s(x: String): Unit = { md.update(x.getBytes(UTF_8)); md.update(0.toByte) }
    for (b <- batches; r <- b.records) {
      s(r.key); s(r.topic); s(r.partition.toString); s(r.offset.toString)
      s(r.tsMicros.toString)
      if (r.value == null) s("<null>") else { md.update(r.value); md.update(1.toByte) }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---- expected answers -----------------------------------------------

  def dateOf(tsMicros: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(tsMicros, DayMicros)).toString

  /** Answers over the unique (uid-deduplicated) records of a batch set. */
  final class Expected(batches: Seq[Batch], cutoff: String = "") {
    val unique: IndexedSeq[Rec] = {
      val seen = mutable.HashSet.empty[String]
      batches.flatMap(_.records).filter(r => dateOf(r.tsMicros) >= cutoff && seen.add(r.uid))
        .toIndexedSeq
    }
    val rowsPerTopic: Map[String, Long] =
      unique.groupBy(_.topic).map { case (t, rs) => t -> rs.size.toLong }
    val tombstones: Long = unique.count(_.tombstone).toLong
    val latestRows: Long = unique.map(r => (r.topic, r.key)).distinct.size.toLong
    val histogramBuckets: Long = unique.map(_.tsMicros / 3600000000L).distinct.size.toLong
    private lazy val byKey: Map[String, IndexedSeq[Rec]] = unique.groupBy(_.key)
    def hits(key: String): Long = byKey.get(key).map(_.size.toLong).getOrElse(0L)
    def hits(key: String, topic: String): Long =
      byKey.get(key).map(_.count(_.topic == topic).toLong).getOrElse(0L)
    /** Live (non-tombstone) rows of `topic` whose payload carries `kind`. */
    def kindHits(topic: String, kind: String): Long =
      unique.count(r => r.topic == topic && !r.tombstone && r.kind == kind).toLong
    private lazy val sortedTs: Array[Long] = unique.map(_.tsMicros).sorted.toArray
    /** Rows with `from <= ts <= to`. */
    def inWindow(from: Long, to: Long): Long = {
      def lowerBound(x: Long): Int = {
        var lo = 0; var hi = sortedTs.length
        while (lo < hi) { val m = (lo + hi) >>> 1; if (sortedTs(m) < x) lo = m + 1 else hi = m }
        lo
      }
      (lowerBound(to + 1) - lowerBound(from)).toLong
    }
  }
}
