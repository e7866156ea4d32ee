package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run needs. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path, val root: Path,
    val tracer: Tracer, val listener: Option[CountingListener]) {

  /** A tracer that records nothing, for the untraced half of a traced run. */
  val untraced: Tracer = new Tracer(spark.sparkContext, enabled = false)

  def deadlineNs(startNs: Long): Long = startNs + seconds * 1000000000L

  /** Spark work of every job started inside the spans that match (bus drained). */
  def counters(spans: Span => Boolean): Counters = {
    val c = new Counters
    listener.foreach { l =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      tracer.spans.iterator.filter(spans).foreach(s => c.add(l.group(s"pb-${s.id}")))
    }
    c
  }
}

/** Attempted and failed operations, metrics and run details. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val details: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Run one operation; it fails if it throws or its check returns false. */
  def attempt(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        failed += 1
        return
    }
    if (!ok) { failed += 1; failures += s"$what: wrong answer" }
  }
}

object Run {

  def ms(ns: Long): Double = ns / 1e6

  def now: Long = System.nanoTime()

  /** Force a frame in full: every column of every row reaches the noop sink. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** (data files, bytes, partition directories) of a changelog table. */
  def tableFiles(p: Path): (Long, Long, Long) = {
    if (!Files.exists(p)) return (0, 0, 0)
    // Spark skips paths with a component starting with "_" or "."
    val files = Files.walk(p).iterator().asScala.filter { f =>
      Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
        p.relativize(f).iterator().asScala.forall { c =>
          val n = c.toString; !n.startsWith("_") && !n.startsWith(".") }
    }.toSeq
    val parts = files.map(_.getParent).distinct.size
    (files.size.toLong, files.map(Files.size).sum, parts.toLong)
  }

  /** Global Spark and JVM figures over a timed phase. */
  final class Phase(ctx: Ctx) {
    private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    private val before = ctx.listener.map { l =>
      org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext); l.total }
    private val t0 = now

    def report(out: Outcome, cores: Int): Unit = {
      val wallNs = now - t0
      ctx.listener.foreach { l =>
        org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
        val a = l.total
        val b = before.get
        out.put("spark.jobs", (a.jobs - b.jobs).toDouble, "count")
        out.put("spark.tasks", (a.tasks - b.tasks).toDouble, "count")
        out.put("spark.busy_share", (a.runMs - b.runMs) / (ms(wallNs) * cores), "share")
        out.put("spark.gc_ms", (a.gcMs - b.gcMs).toDouble, "ms")
      }
      out.put("jvm.heap_peak_mb", pools.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
    }
  }

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case (a, b) => json(Seq(a, b))
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
