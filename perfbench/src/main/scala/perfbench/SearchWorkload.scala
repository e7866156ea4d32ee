package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.ingest.AvroIngest
import graft.query.Changelog
import graft.sink.ChangelogSink

/**
 * `search`: the kafana flow, index once and query many (closed loop, one
 * client). Set-up is the write path: each generated batch goes through
 * decode, the SMT chain and the changelog append, then one retention and
 * compaction sweep drops the first day. Each timed round then runs every
 * facade operation once, in a seed-shuffled order with seeded arguments,
 * and forces each result in full; the query layer and the sink's read
 * path do almost all of that work.
 */
object SearchWorkload {

  val spec: Gen.Spec = Gen.Spec(flushes = 1, perBatch = 25000, keys = 100000, days = 3)
  val Cutoff: String = Gen.dateOf(Gen.BaseMicros + Gen.DayMicros)
  private val Hour = 3600L * 1000000L
  private val PageSize = 100
  private val WarmRounds = 2

  val Ops: Seq[String] = Seq("discover", "search_key_hot", "search_key_cold",
    "search_key_topic", "kql", "kql_text", "search_json", "histogram", "tombstones", "latest")

  /** One query: the frame, extra observed columns, and the answer check
    * over (rows returned, observed values). */
  private final case class Query(df: DataFrame,
      observed: Seq[Column], check: (Long, Map[String, Any]) => Boolean)

  /**
   * Build the changelog: every batch, then the sweep. Traced, each batch
   * is first run as prefix plans into the noop sink, decode only and then
   * decode plus the SMT chain; their times split the batch between the
   * ingest, transform and sink layers.
   */
  private def build(ctx: Ctx, out: Outcome, files: Seq[(Gen.Batch, String)], dirPath: Path): Double = {
    val spark = ctx.spark
    val start = Run.now
    val tr = ctx.tracer
    val dir = dirPath.toString
    val decodeMs, enrichMs, appendMs = mutable.ArrayBuffer.empty[Double]
    def probes(b: Gen.Batch, p: String): (Double, Double) = {
      val schema = Gen.schemaOf(b.topic)
      val t0 = Run.now
      tr.span("probe.decode")(Run.force(AvroIngest.decodeTopic(spark.read.parquet(p), schema)))
      val t1 = Run.now
      tr.span("probe.enrich")(
        Run.force(AvroIngest.ingestTopic(spark.read.parquet(p), schema, Gen.JsonField)))
      (Run.ms(t1 - t0), Run.ms(Run.now - t1))
    }
    // the first probes of a JVM are cold; run them once before measuring
    if (ctx.trace) files.foreach { case (b, p) => probes(b, p) }
    for ((b, p) <- files) {
      if (ctx.trace) {
        val (d, e) = probes(b, p)
        decodeMs += d; enrichMs += e
      }
      tr.newOp()
      val t0 = Run.now
      tr.span("op.index_batch")(Frames.ingest(spark, tr, b, p, dir))
      if (ctx.trace) appendMs += Run.ms(Run.now - t0) - enrichMs.last
    }
    if (ctx.trace) enrichMs.indices.foreach(i => enrichMs(i) -= decodeMs(i))
    val (f0, b0, p0) = Run.tableFiles(dirPath)
    tr.newOp()
    val t0 = Run.now
    val dropped = tr.span("sink.drop")(ChangelogSink.dropPartitionsBefore(spark, dir, Cutoff))
    val t1 = Run.now
    val (_, compacted) = tr.span("sink.compact")(ChangelogSink.rollIfNeeded(spark, dir, Cutoff))
    val t2 = Run.now
    val buildS = (t2 - start) / 1e9
    val (f1, b1, p1) = Run.tableFiles(dirPath)
    val stored = ChangelogSink.read(spark, dir).count()
    out.details("named") = Map("maintain_s" -> (t2 - t0) / 1e9,
      "stored_bytes_per_record" -> b1.toDouble / math.max(1L, stored))
    if (ctx.trace) {
      out.put("ingest.decode_ms", Stats.median(decodeMs.toSeq), "ms")
      out.put("transform.enrich_ms", Stats.median(enrichMs.toSeq), "ms")
      out.put("sink.append_ms", Stats.median(appendMs.toSeq), "ms")
      out.put("sink.files_written", f0.toDouble, "count")
      out.put("sink.bytes_written", b0.toDouble, "B")
      out.put("sink.files_per_partition", f0.toDouble / math.max(1L, p0), "count")
      out.put("sink.files_per_partition_swept", f1.toDouble / math.max(1L, p1), "count")
      out.put("sink.bytes_per_record", b1.toDouble / math.max(1L, stored), "B")
      out.put("sink.drop_ms", Run.ms(t1 - t0), "ms")
      out.put("sink.compact_ms", Run.ms(t2 - t1), "ms")
      out.put("sink.partitions_dropped", dropped.toDouble, "count")
      out.put("sink.partitions_compacted", compacted.toDouble, "count")
      out.put("sink.bytes_rewritten", ctx.counters(_.name == "sink.compact").outputBytes.toDouble, "B")
    }
    buildS
  }

  private def query(kind: String, log: Changelog, e: Gen.Expected, r: SplittableRandom): Query = {
    def exact(n: Long) = (got: Long, _: Map[String, Any]) => got == n
    def ts(micros: Long): Column = timestamp_micros(lit(micros))
    kind match {
      case "discover" =>
        val from = Gen.BaseMicros + Gen.DayMicros + r.nextInt((spec.days - 1) * 24) * Hour
        val to = from + Hour - 1
        Query(log.discover(ts(from), ts(to), PageSize),
          Seq(min(unix_micros(col("timestamp"))).as("lo"), max(unix_micros(col("timestamp"))).as("hi")),
          (n, o) => n == math.min(PageSize.toLong, e.inWindow(from, to)) &&
            (n == 0 || (o("lo").asInstanceOf[Long] >= from && o("hi").asInstanceOf[Long] <= to)))
      case "search_key_hot" =>
        val k = Gen.keyOf(r.nextInt(10))
        Query(log.searchKey(k), Nil, exact(e.hits(k)))
      case "search_key_cold" =>
        val k = Gen.keyOf(1000 + r.nextInt(spec.keys - 1000))
        Query(log.searchKey(k), Nil, exact(e.hits(k)))
      case "search_key_topic" =>
        val k = Gen.keyOf(r.nextInt(100))
        val t = if (r.nextBoolean()) Gen.Events else Gen.Orders
        Query(log.searchKeyTopic(k, t), Nil, exact(e.hits(k, t)))
      case "kql" =>
        val k = Gen.keyOf(r.nextInt(1000))
        Query(log.search(s"key:$k AND topic:${Gen.Orders}"), Nil,
          exact(e.hits(k, Gen.Orders)))
      case "kql_text" =>
        val et = Gen.EventTypes(r.nextInt(Gen.EventTypes.length))
        Query(log.search(s"$et AND topic:${Gen.Events}"), Nil,
          exact(e.kindHits(Gen.Events, et)))
      case "search_json" =>
        // the orders payload's typed fields are not in the read schema,
        // so the JSON view is the only way to address them
        val st = Gen.Statuses(r.nextInt(Gen.Statuses.length))
        Query(log.searchJson("$.status", st), Nil, exact(e.kindHits(Gen.Orders, st)))
      case "histogram" =>
        Query(log.histogram("hour"), Seq(sum(col("n")).as("total")),
          (n, o) => n == e.histogramBuckets && o("total") == e.unique.size.toLong)
      case "tombstones" =>
        Query(log.tombstones(), Nil, exact(e.tombstones))
      case "latest" =>
        Query(log.latest(), Nil, exact(e.latestRows))
    }
  }

  def run(ctx: Ctx, out: Outcome): Double = {
    val spark = ctx.spark
    val g0 = Run.now
    val batches = Gen.batches(ctx.seed, spec)
    out.details("gen_s") = (Run.now - g0) / 1e9
    val files = Frames.write(spark, batches, ctx.work.resolve("input"))
    out.details("input_s") = (Run.now - g0) / 1e9
    val expected = new Gen.Expected(batches, Cutoff)
    out.details("input_digest") = Gen.digest(batches)
    out.details("changelog_rows") = expected.unique.size

    // set-up: build the index once (a second build would cost each run
    // several seconds of its time budget), then warm up with whole rounds
    // of the query mix: a JVM's first queries are a third slower
    val dirPath = ctx.work.resolve("index")
    val dir = dirPath.toString
    val buildS = build(ctx, out, files, dirPath)
    val log = Changelog(spark, dir, Gen.JsonField)

    val lat = Map(false -> mutable.ArrayBuffer.empty[Double], true -> mutable.ArrayBuffer.empty[Double])
    // (kind, traced) -> latencies
    val perOp = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
    val planMs, execMs, openMs, filesListed, rowsRatio, shuffle, jobs, roundS =
      mutable.ArrayBuffer.empty[Double]

    /**
     * One round: every kind once, in a seeded order with seeded arguments,
     * each result forced in full and checked. Warm-up rounds (negative
     * `round`) run the same code untraced and record nothing; a timed
     * round stops at `deadline`. Returns whether the round ran whole.
     */
    def runRound(round: Int, deadline: Long): Boolean = {
      val timed = round >= 0
      val r = new SplittableRandom(ctx.seed * 1000003L + round)
      val order = new scala.util.Random(ctx.seed + round).shuffle(Ops)
      var roundNs = 0L
      val it = order.iterator
      while (it.hasNext && Run.now < deadline) {
        val kind = it.next()
        val traced = timed && ctx.trace && (Ops.indexOf(kind) + round) % 2 == 0
        val tr = if (traced) ctx.tracer else ctx.untraced
        if (traced) {
          val t0 = Run.now
          val n = ctx.tracer.span("probe.open") {
            val f = ChangelogSink.read(spark, dir); f.schema; f.inputFiles.length }
          openMs += Run.ms(Run.now - t0); filesListed += n
        }
        val op = tr.newOp()
        val t0 = Run.now
        var tPlan = t0
        var rows = -1L
        out.attempt(s"$kind round $round") {
          tr.span("op.query") {
            val q = tr.span("query.plan") {
              val q = query(kind, log, expected, r)
              q.df.queryExecution.executedPlan
              q
            }
            tPlan = Run.now
            val obs = Observation(s"q$op-$round")
            val observed = q.df.observe(obs, count(lit(1)).as("rows"), q.observed: _*)
            tr.span("query.exec")(Run.force(observed))
            val o = obs.get
            rows = o("rows").asInstanceOf[Long]
            q.check(rows, o)
          }
        }
        val t1 = Run.now
        roundNs += t1 - t0
        if (timed) {
          lat(traced) += Run.ms(t1 - t0)
          perOp.getOrElseUpdate((kind, traced), mutable.ArrayBuffer.empty) += Run.ms(t1 - t0)
        }
        if (traced) {
          planMs += Run.ms(tPlan - t0); execMs += Run.ms(t1 - tPlan)
          val c = ctx.counters(_.op == op)
          rowsRatio += c.inputRecords.toDouble / math.max(1L, rows)
          shuffle += c.shuffleWrite.toDouble; jobs += c.jobs.toDouble
        }
      }
      if (timed && !it.hasNext) roundS += roundNs / 1e9
      !it.hasNext
    }

    val t0 = Run.now
    (1 to WarmRounds).foreach(w => runRound(-w, Long.MaxValue))
    val prep = buildS + (Run.now - t0) / 1e9
    out.details("build_s") = buildS

    System.gc()
    val phase = new Run.Phase(ctx)
    val start = Run.now
    // whole rounds keep the mix balanced; past the deadline the current
    // round stops, and a traced run needs a traced and an untraced round
    val minRounds = if (ctx.trace) 2 else 1
    var round = 0
    while (runRound(round, if (round < minRounds) Long.MaxValue else ctx.deadlineNs(start))) round += 1
    if (ctx.trace) phase.report(out, Main.Cores)
    // which topic's typed payload fields the inferred read schema kept
    out.details("read_message_fields") = ChangelogSink.read(spark, dir).schema("message")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    Run.deleteTree(dirPath)

    val main = if (lat(false).nonEmpty) lat(false).toSeq else lat(true).toSeq
    // every kind runs untraced at least once: a traced run traces each
    // kind in one of its first two rounds only
    Summary.endToEnd(out, Ops.map(k => perOp.get((k, false)).map(_.toSeq).getOrElse(Nil)))
    out.details("rounds") = round
    out.details("round_s_all") = roundS.toSeq
    out.details("op_ms_all") = main
    val (p, tail) = Stats.tail(main)
    out.details("named") = out.details("named").asInstanceOf[Map[String, Any]] ++ Map(
      "query_p50_ms" -> Stats.median(main), "query_tail_ms" -> tail,
      "query_tail_percentile" -> p, "index_build_s" -> buildS,
      "ingest_records_per_s" -> batches.map(_.records.size).sum / buildS)
    if (ctx.trace) {
      Summary.overhead(out, Ops.map(k => (perOp.get((k, true)).map(_.toSeq).getOrElse(Nil),
        perOp.get((k, false)).map(_.toSeq).getOrElse(Nil))))
      out.put("sink.open_ms", Stats.median(openMs.toSeq), "ms")
      out.put("sink.files_listed", Stats.median(filesListed.toSeq), "count")
      out.put("query.plan_ms", Stats.median(planMs.toSeq), "ms")
      out.put("query.exec_ms", Stats.median(execMs.toSeq), "ms")
      out.put("query.rows_read_per_row_returned", Stats.median(rowsRatio.toSeq), "ratio")
      out.put("query.shuffle_bytes", Stats.median(shuffle.toSeq), "B")
      out.put("query.jobs", Stats.median(jobs.toSeq), "count")
      Ops.foreach(k => out.put(s"query.$k.p50_ms", Stats.median(perOp((k, true)).toSeq), "ms"))
      Summary.spanShares(out, ctx, "op.query")
    }
    prep
  }
}
