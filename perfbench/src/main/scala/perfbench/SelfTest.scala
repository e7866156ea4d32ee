package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.query.Changelog

/** Checks of the benchmark's own code; exits non-zero on a failure. */
object SelfTest {

  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(spark: SparkSession, work: Path, root: Path): Unit = {
    // BENCHMARK.json names exactly the workloads and metrics a run reports
    val bench = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("BENCHMARK.json").toFile)
    def names(key: String) = bench.get(key).elements().asScala.toSeq
    check("BENCHMARK.json lists the workloads", names("workloads").map(_.get("name").asText) == Main.Workloads)
    check("BENCHMARK.json lists the end-to-end metrics",
      names("end_to_end").map(_.get("name").asText) == Main.EndToEnd)
    check("BENCHMARK.json lists the per-layer metrics and units",
      names("per_layer").map(n => n.get("name").asText -> n.get("unit").asText) == Main.PerLayer)

    val small = Gen.Spec(flushes = 2, perBatch = 2000, keys = 1000, days = 3)

    // generator: same seed, same bytes; another seed, other bytes
    val a = Gen.batches(7, small)
    check("same seed gives byte-identical batches",
      Gen.digest(a) == Gen.digest(Gen.batches(7, small)))
    check("different seeds give different batches", Gen.digest(a) != Gen.digest(Gen.batches(8, small)))
    val recs = a.flatMap(_.records)
    check("tombstones near 2%", math.abs(recs.count(_.tombstone).toDouble / recs.size - 0.02) < 0.01)
    check("re-deliveries present", recs.map(_.uid).distinct.size < recs.size)

    // percentile helper
    check("tail percentile keeps ten samples beyond",
      Seq(1000 -> 99.0, 999 -> 95.0, 200 -> 95.0, 100 -> 90.0, 40 -> 75.0, 39 -> 50.0, 20 -> 50.0, 5 -> 50.0)
        .forall { case (n, p) => Stats.tailPercentile(n) == p })
    val xs = (1 to 100).map(_.toDouble)
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-9
    check("quantile interpolates", near(Stats.quantile(xs, 0.9), 90.1) && Stats.median(Seq(1.0, 3.0)) == 2.0)
    check("tail of 100 samples is p90", Stats.tail(xs)._1 == 90.0 && near(Stats.tail(xs)._2, 90.1))

    // span self time: children overlap, one leaks past its parent, and a
    // grandchild must not count against the root
    val spans = Seq(Span(1, "root", 0, 1, 0, 100), Span(2, "a", 1, 1, 10, 30),
      Span(3, "b", 1, 1, 20, 50), Span(4, "c", 1, 1, 90, 130), Span(5, "d", 2, 1, 12, 14))
    val self = Trace.selfTimes(spans)
    check("span self time subtracts the union of children",
      self == Map(1 -> 50L, 2 -> 18L, 3 -> 30L, 4 -> 40L, 5 -> 2L))

    // answer checks: a clean changelog passes, a planted wrong row fails
    val files = Frames.write(spark, a, work.resolve("selftest-input"))
    val dir = work.resolve("selftest-log").toString
    files.foreach { case (b, p) => Frames.ingest(spark, new Tracer(spark.sparkContext, false), b, p, dir) }
    val expected = new Gen.Expected(a)
    val key = Gen.keyOf(0)
    val log = Changelog(spark, dir, Gen.JsonField)
    check("clean changelog matches the expected answers",
      log.searchKey(key).count() == expected.hits(key) &&
        log.tombstones().count() == expected.tombstones &&
        log.latest().count() == expected.latestRows)
    val planted = Gen.Batch(Gen.Events, 99, IndexedSeq(a.head.records.head.copy(key = key, offset = 1L << 40)))
    val (pb, pp) = Frames.write(spark, Seq(planted), work.resolve("selftest-planted")).head
    Frames.ingest(spark, new Tracer(spark.sparkContext, false), pb, pp, dir)
    check("a planted wrong row fails the key check", log.searchKey(key).count() != expected.hits(key))

    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val wrong = df.select(col("id"), when(col("id") === 42, lit(0L)).otherwise(col("v")).as("v"))
    check("catalog digest is order-insensitive",
      CatalogWorkload.digest(df) == CatalogWorkload.digest(df.orderBy(col("id").desc)))
    check("catalog digest catches a changed row", CatalogWorkload.digest(df) != CatalogWorkload.digest(wrong))

    spark.stop()
    Run.deleteTree(work.resolve("selftest-input"))
    Run.deleteTree(work.resolve("selftest-planted"))
    Run.deleteTree(work.resolve("selftest-log"))
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
