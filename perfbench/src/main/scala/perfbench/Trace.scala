package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced interval: `parent` is 0 for a root, `op` groups the spans
  * of one operation. Times are `System.nanoTime` readings. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one job group. */
final class Counters {
  var jobs, tasks, runMs, gcMs, shuffleWrite, shuffleRead, spill,
      inputRecords, inputBytes, outputBytes, outputRecords = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputRecords += o.inputRecords; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
  }
}

/**
 * Counts jobs and task metrics per job group. The tracer names each
 * span's group `pb-<span id>`; work outside any span lands under "".
 */
final class CountingListener extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val byGroup = mutable.Map.empty[String, Counters]

  private def counters(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    synchronized(counters(g).jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobGroup.get(j))).getOrElse("")
    synchronized {
      val c = counters(g)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Counters of one group (a copy); call after draining the bus. */
  def group(g: String): Counters = synchronized {
    val c = new Counters; byGroup.get(g).foreach(c.add); c
  }

  /** Sum over every group. */
  def total: Counters = synchronized {
    val c = new Counters; byGroup.values.foreach(c.add); c
  }
}

/**
 * Records spans around calls into the program's layers. Disabled, it
 * runs the body and nothing else, so untraced runs pay no tracing cost.
 * Spans stay in memory until the run ends. Not thread-safe: spans are
 * opened from one thread only.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var nextOp = 1
  private var curOp = 0

  /** Start a new operation; later root spans belong to it. */
  def newOp(): Int = { curOp = nextOp; nextOp += 1; curOp }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", s"pb-$id")
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      spans += Span(id, name, parent, curOp, t0, t1)
    }
  }
}

object Trace {

  /** Nanoseconds of `[start, end)` covered by the union of `parts`. */
  def covered(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    val clipped = parts.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(s.startNs, s.endNs, cs))
    }.toMap
  }
}
