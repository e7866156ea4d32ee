package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point, launched by `run.py` after it has built the
 * program:
 *
 * {{{
 *   perfbench.Main --workload search|catalog --seed N --seconds S
 *     --trace 0|1 --root DIR --work DIR --results DIR [--commit C]
 *   perfbench.Main --self-test --root DIR --work DIR
 *   perfbench.Main --record-catalog --root DIR --work DIR
 * }}}
 *
 * A run prints a summary line and then, as its last line, one JSON
 * object: `correct`, `attempted`, `failed` and `metrics`. With trace 0
 * the metrics are the end-to-end ones ([[EndToEnd]]); with trace 1 the
 * per-layer ones ([[PerLayer]]), every one present in every workload
 * (0 where the workload does not use the layer). The full record, with
 * the environment, the spans and the per-workload figures, goes to a
 * file under the results directory.
 */
object Main {

  /** Cores the session uses; the load is sized for this many. */
  val Cores = 4

  val Workloads: Seq[String] = Seq("search", "catalog")

  /** Gated end-to-end metrics. The median and tail latency are in the
    * record too, but with 9 catalog entries of very different cost the
    * median entry jumps between neighbours and is not steady enough to gate. */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_geomean_ms", "round_s")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.busy_share" -> "share",
    "spark.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_share" -> "share", "trace.unattributed_share" -> "share",
    "ingest.decode_ms" -> "ms", "transform.enrich_ms" -> "ms", "sink.append_ms" -> "ms",
    "sink.files_written" -> "count", "sink.bytes_written" -> "B",
    "sink.files_per_partition" -> "count", "sink.files_per_partition_swept" -> "count",
    "sink.bytes_per_record" -> "B", "sink.drop_ms" -> "ms", "sink.compact_ms" -> "ms",
    "sink.partitions_dropped" -> "count", "sink.partitions_compacted" -> "count",
    "sink.bytes_rewritten" -> "B",
    "sink.open_ms" -> "ms", "sink.files_listed" -> "count",
    "query.plan_ms" -> "ms", "query.exec_ms" -> "ms",
    "query.rows_read_per_row_returned" -> "ratio", "query.shuffle_bytes" -> "B",
    "query.jobs" -> "count") ++
    SearchWorkload.Ops.map(k => s"query.$k.p50_ms" -> "ms") ++ Seq(
    "ingest.table_open_ms" -> "ms", "ingest.table_open_jobs" -> "count",
    "entry.construct_ms" -> "ms", "entry.action_ms" -> "ms",
    "entry.construct_jobs" -> "count", "entry.action_jobs" -> "count") ++
    CatalogWorkload.Families.flatMap(f =>
      Seq(s"entry.$f.construct_ms" -> "ms", s"entry.$f.action_ms" -> "ms")) ++ Seq(
    "entry.shuffle_bytes" -> "B", "entry.spill_bytes" -> "B", "entry.task_ms" -> "ms",
    "entry.persisted_rdds_left" -> "count")

  private def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("kafanaspark-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def env(spark: SparkSession, seed: Long, commit: String): Map[String, Any] = {
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }
    Map(
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "commit" -> commit,
      "seed" -> seed,
      "spark_conf" -> conf.toSeq.sortBy(_._1).toMap)
  }

  def main(argv: Array[String]): Unit = {
    val args = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "self-test" || k == "record-catalog") { args(k) = "1"; i += 1 }
      else { require(i + 1 < argv.length, s"missing value for ${argv(i)}"); args(k) = argv(i + 1); i += 2 }
    }
    val root = Paths.get(args("root")).toAbsolutePath
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)

    if (args.contains("self-test")) { SelfTest.run(session(work), work, root); return }

    val recording = args.contains("record-catalog")
    val workload = if (recording) "catalog" else args.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toInt
    val trace = args.getOrElse("trace", "0") == "1"
    require(seconds >= 1, "--seconds must be at least 1")

    val jvmStartNs = Run.now -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val t0 = Run.now
    val spark = session(work)
    val sessionS = (Run.now - t0) / 1e9
    val listener = if (trace) {
      val l = new CountingListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val ctx = new Ctx(spark, seed, seconds, trace, work, root,
      new Tracer(spark.sparkContext, trace), listener)
    val out = new Outcome

    if (recording) {
      CatalogWorkload.record(ctx, out, Some(CatalogWorkload.expectedFile(root)))
      spark.stop()
      if (out.failed > 0) {
        System.err.println(s"not recorded; failures: ${out.failures.mkString("; ")}")
        sys.exit(1)
      }
      println(s"recorded ${CatalogWorkload.expectedFile(root)}")
      return
    }

    val prepS = workload match {
      case "search" => SearchWorkload.run(ctx, out)
      case "catalog" => CatalogWorkload.run(ctx, out)
    }
    out.put("setup_s", sessionS + prepS, "s")
    out.details("session_s") = sessionS
    out.details("prep_s") = prepS
    out.details("jvm_uptime_s") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    out.details("jvm_start_to_session_s") = (t0 - jvmStartNs) / 1e9

    val reported: Seq[(String, (Double, String))] =
      if (trace) PerLayer.map { case (n, u) => n -> out.metrics.getOrElse(n, (0.0, u)) }
      else EndToEnd.map(n => n -> out.metrics(n))
    val correct = out.failed == 0 && out.attempted > 0
    val metricsJson = reported.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }

    val spans = ctx.tracer.spans.toSeq
    val self = Trace.selfTimes(spans)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (trace) 1 else 0),
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "error_rate" -> out.failed.toDouble / math.max(1L, out.attempted),
      "metrics" -> mutable.LinkedHashMap(metricsJson: _*),
      "all_metrics" -> out.metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) },
      "env" -> env(spark, seed, args.getOrElse("commit", "unknown")),
      "details" -> out.details,
      "failures" -> out.failures.take(20),
      "spans" -> spans.map(s => Seq(s.id, s.name, s.parent, s.op,
        Run.ms(s.startNs - t0), Run.ms(s.endNs - t0), Run.ms(self(s.id)))))
    val results = Paths.get(args.getOrElse("results", work.resolve("results").toString))
    Files.createDirectories(results)
    val file = results.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}.json")
    Files.write(file, Run.json(record).getBytes(UTF_8))
    spark.stop()

    out.failures.take(5).foreach(f => System.err.println(s"[perfbench] failed: $f"))
    println(s"[perfbench] $workload seed=$seed trace=${if (trace) 1 else 0} " +
      s"error_rate=${record("error_rate")} " +
      out.details.get("named").map(n => s"$n ").getOrElse("") + s"record=$file")
    println(Run.json(mutable.LinkedHashMap("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> mutable.LinkedHashMap(metricsJson: _*))))
  }
}
