package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ingest.Tables

/**
 * `catalog`: analytics entries through `SparkEntry.queries`, each a fresh
 * construct-then-run over the fixture tables in `catalog/sf0.01`. Set-up
 * runs two passes over the slice, which warm the JVM; the timed phase then
 * runs passes, each in its own seed-shuffled order, until the time is up
 * (the first one whole), and reports each entry's median. Between entries
 * the session's cache and every persisted RDD are cleared, so no entry
 * reads another's blocks. Each entry's row count and order-insensitive
 * digest must match `catalog/expected.tsv`, recorded from the same
 * fixtures.
 */
object CatalogWorkload {

  /** The slice, with each entry's family. */
  val Slice: Seq[(String, String)] = Seq(
    // table-open and fixed cost
    "q2_topk" -> "sql", "q4_join_large" -> "sql", "q5_window" -> "sql",
    "kq22_wire_path" -> "kq",
    // eager materialization
    "x3_dedup_minhash" -> "ext", "x57_incremental_dedup" -> "ext",
    // streaming replay harnesses
    "kq50_stream_enrich" -> "streaming",
    // search
    "x22_bm25_search" -> "ext")

  val Families: Seq[String] = Seq("sql", "ext", "streaming", "kq")
  val FixtureTables: Seq[String] =
    Seq("events", "orders", "lineitem", "customer", "documents", "embeddings")
  private val WarmEntry = "q1_agg"
  private val WarmPasses = 2

  def fixtures(root: Path): Path = root.resolve("perfbench/catalog/sf0.01")
  def expectedFile(root: Path): Path = root.resolve("perfbench/catalog/expected.tsv")

  /** Row count and an order-insensitive digest over every column; the
    * aggregate is also the action that runs the entry. */
  def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def readExpected(root: Path): Map[String, (Long, String)] =
    new String(Files.readAllBytes(expectedFile(root)), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, d) = l.split("\t"); n -> (rows.toLong, d)
      }.toMap

  /** Persisted RDDs left by the last entry; then drop them and the cache. */
  private def clearSession(ctx: Ctx): Int = {
    val sc = ctx.spark.sparkContext
    val left = sc.getPersistentRDDs.size
    ctx.spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }

  def run(ctx: Ctx, out: Outcome): Double = record(ctx, out, None)

  /** Run the workload; with `recordTo`, write the observed answers there
    * instead of checking them. */
  def record(ctx: Ctx, out: Outcome, recordTo: Option[Path]): Double = {
    val spark = ctx.spark
    val dir = fixtures(ctx.root).toString
    val expected = if (recordTo.isEmpty) readExpected(ctx.root) else Map.empty[String, (Long, String)]
    def runEntry(name: String): Unit = digest(SparkEntry.queries(name)(spark, dir))

    val family = Slice.toMap
    final case class EntryRun(name: String, constructMs: Double, actionMs: Double, left: Int,
        c0: Counters, c1: Counters)
    val rows = mutable.ArrayBuffer.empty[EntryRun]
    val recorded = mutable.ArrayBuffer.empty[String]
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    /** One pass over the slice, stopped at `deadline`; returns its time
      * if it ran every entry. */
    def pass(p: Int, timed: Boolean, deadline: Long = Long.MaxValue): Option[Double] = {
      val order = new scala.util.Random(ctx.seed + p).shuffle(Slice)
      var passNs = 0L
      val it = order.iterator
      while (it.hasNext && Run.now < deadline) {
        val (name, _) = it.next()
        val tr = if (timed) ctx.tracer else ctx.untraced
        val op = tr.newOp()
        val t0 = Run.now
        var t1 = t0
        out.attempt(s"$name pass $p") {
          tr.span("op.entry") {
            val df = tr.span("entry.construct")(SparkEntry.queries(name)(spark, dir))
            t1 = Run.now
            val (n, d) = tr.span("entry.action")(digest(df))
            recordTo match {
              case Some(_) => if (p == -1) recorded += s"$name\t$n\t$d"; true
              case None => expected.get(name).contains((n, d))
            }
          }
        }
        val t2 = Run.now
        passNs += t2 - t0
        if (timed) lat.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Run.ms(t2 - t0)
        val left = clearSession(ctx)
        if (timed && ctx.trace && p == 0) {
          def counters(n: String) = ctx.counters(s => s.op == op && s.name == n)
          rows += EntryRun(name, Run.ms(t1 - t0), Run.ms(t2 - t1), left,
            counters("entry.construct"), counters("entry.action"))
        }
      }
      if (it.hasNext) None else Some(passNs / 1e9)
    }

    clearSession(ctx)
    val warmS = (1 to WarmPasses).flatMap(w => pass(-w, timed = false)).sum
    out.details("warm_pass_s") = warmS
    if (ctx.trace) {
      // tracing overhead on a repeated entry, traced and untraced in turn
      val ab = (0 until 6).map { i =>
        val tr = if (i % 2 == 0) ctx.tracer else ctx.untraced
        tr.newOp()
        val t0 = Run.now
        tr.span("probe.warm")(runEntry(WarmEntry)); clearSession(ctx)
        (i % 2 == 0, Run.ms(Run.now - t0))
      }
      Summary.overhead(out, Seq((ab.filter(_._1).map(_._2), ab.filterNot(_._1).map(_._2))))
      val opens = FixtureTables.map { t =>
        val t0 = Run.now
        ctx.tracer.span("probe.table_open")(Tables.load(spark, dir, t).schema)
        Run.ms(Run.now - t0)
      }
      out.put("ingest.table_open_ms", Stats.median(opens), "ms")
      out.put("ingest.table_open_jobs",
        ctx.counters(_.name == "probe.table_open").jobs.toDouble / FixtureTables.size, "count")
    }

    clearSession(ctx)
    System.gc()
    val phase = new Run.Phase(ctx)
    val start = Run.now
    // the first pass runs whole, so every entry has a sample; past the
    // deadline the pass in progress stops
    val passS = mutable.ArrayBuffer.empty[Double]
    var p = 0
    while (p == 0 || Run.now < ctx.deadlineNs(start)) {
      passS ++= pass(p, timed = true, if (p == 0) Long.MaxValue else ctx.deadlineNs(start))
      p += 1
    }
    if (ctx.trace) phase.report(out, Main.Cores)
    recordTo.filter(_ => out.failed == 0).foreach { p =>
      Files.write(p, ("# entry\trows\tdigest\n" + recorded.sorted.mkString("", "\n", "\n")).getBytes(UTF_8))
    }

    val byEntry = Slice.map { case (n, _) => lat(n).toSeq }
    Summary.endToEnd(out, byEntry)
    out.details("passes") = p
    out.details("pass_s_all") = passS.toSeq
    out.details("entry_ms_all") = lat.map { case (n, xs) => n -> xs.toSeq }
    out.details("named") = Map("catalog_total_s" -> byEntry.map(Stats.median).sum / 1000,
      "catalog_geomean_s" -> Stats.geomean(byEntry.map(Stats.median)) / 1000)
    if (ctx.trace) {
      def sum(f: EntryRun => Double, rs: Seq[EntryRun] = rows.toSeq) = rs.map(f).sum
      out.put("entry.construct_ms", sum(_.constructMs), "ms")
      out.put("entry.action_ms", sum(_.actionMs), "ms")
      out.put("entry.construct_jobs", sum(_.c0.jobs.toDouble), "count")
      out.put("entry.action_jobs", sum(_.c1.jobs.toDouble), "count")
      for (f <- Families) {
        val rs = rows.toSeq.filter(r => family(r.name) == f)
        out.put(s"entry.$f.construct_ms", sum(_.constructMs, rs), "ms")
        out.put(s"entry.$f.action_ms", sum(_.actionMs, rs), "ms")
      }
      out.put("entry.shuffle_bytes", sum(r => (r.c0.shuffleWrite + r.c1.shuffleWrite).toDouble), "B")
      out.put("entry.spill_bytes", sum(r => (r.c0.spill + r.c1.spill).toDouble), "B")
      out.put("entry.task_ms", sum(r => (r.c0.runMs + r.c1.runMs).toDouble), "ms")
      out.put("entry.persisted_rdds_left", sum(_.left.toDouble), "count")
      out.details("entries") = rows.map(r => Map("name" -> r.name, "family" -> family(r.name),
        "construct_ms" -> r.constructMs, "action_ms" -> r.actionMs,
        "construct_jobs" -> r.c0.jobs, "action_jobs" -> r.c1.jobs,
        "shuffle_bytes" -> (r.c0.shuffleWrite + r.c1.shuffleWrite),
        "spill_bytes" -> (r.c0.spill + r.c1.spill), "task_ms" -> (r.c0.runMs + r.c1.runMs),
        "persisted_rdds_left" -> r.left))
      Summary.spanShares(out, ctx, "op.entry")
    }
    warmS
  }
}
