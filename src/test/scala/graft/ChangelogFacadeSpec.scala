package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.functions.{FuzzyMatch, PhraseMatch}
import graft.query.{Changelog, Kql, LogQueries}
import graft.sink.ChangelogSink
import graft.transform.Transforms

/** End-to-end through the user-facing facade: sink a pipeline run, then
  * answer every reference query from the sunk table (the workflow a
  * kafana user migrates to). */
class ChangelogFacadeSpec extends SparkSpec {
  import spark.implicits._

  test("the kafana workflow end-to-end over a sunk changelog") {
    val dir = Files.createTempDirectory("facade").toString
    ChangelogSink.append(Pipeline.envelope(spark, sf), dir)
    // replayed batch: the sink stores each uid once
    ChangelogSink.append(Pipeline.envelope(spark, sf), dir)

    val log = Changelog(spark, dir, Pipeline.ValueJsonField)
    assert(log.frame.count() == 1000) // not 2000: replay deduped

    val page = log.discover(lit("2024-01-01").cast("timestamp"),
      lit("2030-01-01").cast("timestamp"), 10)
    assert(page.count() == 10)

    assert(log.searchKey("13").count() > 0)
    assert(log.searchKeyTopic("13", "events").count() > 0)
    assert(log.searchKeyTopic("13", "nope").count() == 0)
    assert(log.searchField("event_type", "error").count() > 0)
    assert(log.searchJson("$.event_type", "error").count() ==
      log.searchField("event_type", "error").count())
    assert(log.tombstones().count() == 20)

    // Kibana's search box as a query STRING (KQL-ish)
    assert(log.search("key:13 AND topic:events").count() ==
      log.searchKeyTopic("13", "events").count())
    assert(log.search("key:13 OR key:7").count() ==
      log.searchKey("13").count() + log.searchKey("7").count())
    assert(log.search("\"error\"").count() ==
      log.frame.where(
        col(s"message.${Pipeline.ValueJsonField}").contains("error")).count())

    // Kibana's search box: BM25-ranked match over the payload JSON
    val hits = log.matchQuery(Seq("error"), k = 5)
    assert(hits.count() > 0 && hits.count() <= 5)
    assert(hits.where(
      !col(s"message.${Pipeline.ValueJsonField}").contains("error"))
      .count() == 0)
    assert(hits.select($"rank").as[Int].collect().toSeq ==
      (1 to hits.count().toInt))

    // match_phrase over the payload: [event, type, error] must sit at
    // CONSECUTIVE analyzed positions — case/punctuation-insensitive on
    // both sides, and order matters
    assert(log.matchPhrase("Event_Type: ERROR").count() ==
      log.searchField("event_type", "error").count())
    assert(log.matchPhrase("error event type").count() == 0)
    // span_near bridges the interleaved 'type' token the exact phrase
    // misses; order still matters
    assert(log.matchPhrase("event error").count() == 0)
    assert(log.spanNear("event error", 1).count() ==
      log.searchField("event_type", "error").count())
    assert(log.spanNear("error event", 3).count() == 0)
    // Lucene fuzzy: the typo'd query-bar term still finds its records
    // (AUTO distance from term length); explicit distance 0 degenerates
    // to exact analyzed-token containment
    assert(log.fuzzy("errr").count() ==
      log.searchField("event_type", "error").count())
    assert(log.fuzzy("error", Some(0)).count() ==
      log.searchField("event_type", "error").count())
    assert(log.search("errr~1").count() == log.fuzzy("errr", Some(1)).count())
    assert(log.latest().groupBy($"key").count()
      .where($"count" > 1).count() == 0)

    log.asView("changelog_v")
    val viaSql = spark.sql(
      "SELECT count(*) FROM changelog_v WHERE key = '13'").as[Long].head()
    assert(viaSql == log.searchKey("13").count())

    assert(log.histogram("hour").agg(sum($"n")).as[Long].head() == 1000)
  }

  /** Two topics (events, orders) with the events batch appended twice. */
  private lazy val twoTopicDir: String = {
    val dir = Files.createTempDirectory("facade-two-topic").toString
    val events = Pipeline.envelope(spark, sf)
    // two months of orders: a partition per order date, ~60 of them
    val orders = Transforms.enrich(Pipeline.ValueJsonField)(
      graft.ingest.Sources.ordersAsRecords(spark, sf)
        .where(col("timestamp") < lit("1995-03-01").cast("timestamp")))
    ChangelogSink.append(events, dir)
    ChangelogSink.append(orders, dir)
    ChangelogSink.append(events, dir) // replayed batch
    dir
  }

  /** The multiset of rows, as sorted JSON lines. */
  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  test("filter-then-dedup returns the rows of the dedup-first composition " +
      "for every facade operation") {
    val dir = twoTopicDir
    val log = Changelog(spark, dir, Pipeline.ValueJsonField)
    val json = Pipeline.ValueJsonField
    // the composition the facade used before: dedup the whole table, then
    // run the operation
    def old = ChangelogSink.read(spark, dir).dropDuplicates("uid")
    val payload = coalesce(col(s"message.`$json`").cast("string"), lit(""))
    val from = lit("2024-01-01").cast("timestamp")
    val to = lit("2030-01-01").cast("timestamp")
    val cases = Seq[(String, DataFrame, DataFrame)](
      ("searchKey", log.searchKey("13"), LogQueries.searchKey(old, "13")),
      ("searchKeyTopic", log.searchKeyTopic("13", "events"),
        LogQueries.searchKeyTopic(old, "13", "events")),
      ("searchField", log.searchField("event_type", "error"),
        LogQueries.searchField(old, "event_type", "error")),
      ("searchJson", log.searchJson("$.o_orderstatus", "F"),
        LogQueries.searchJson(old, json, "$.o_orderstatus", "F")),
      ("tombstones", log.tombstones(), LogQueries.tombstones(old, json)),
      ("search", log.search("error OR topic:orders"),
        old.where(Kql.parse("error OR topic:orders", s"message.$json"))),
      ("matchPhrase", log.matchPhrase("event_type error"),
        old.where(PhraseMatch.phrase(payload, "event_type error"))),
      ("fuzzy", log.fuzzy("errr"), old.where(FuzzyMatch.fuzzy(payload, "errr", None))),
      ("spanNear", log.spanNear("event error", 1),
        old.where(PhraseMatch.near(payload, "event error", 1))),
      ("discover", log.discover(from, to, 50),
        LogQueries.discoverPage(old, from, to, 50)),
      ("latest", log.latest(), LogQueries.latestStatePerKey(old)))
    cases.foreach { case (name, got, want) =>
      val expected = rows(want)
      assert(expected.nonEmpty, s"$name: vacuous case")
      assert(rows(got) == expected, s"$name: rows differ from dedup-first")
    }
    // the events batch was appended twice: the raw read holds each uid once
    assert(ChangelogSink.read(spark, dir).count() == old.count())
  }

  test("exceptAll of a facade frame with itself is empty") {
    val log = Changelog(spark, twoTopicDir, Pipeline.ValueJsonField)
    assert(log.frame.count() > 0 && log.searchKey("13").count() > 0)
    assert(log.frame.exceptAll(log.frame).isEmpty)
    assert(log.searchKey("13").exceptAll(log.searchKey("13")).isEmpty)
  }

  test("searchKey filters at the scan: key in PushedFilters, no Exchange " +
      "below the Filter") {
    val q = Changelog(spark, twoTopicDir, Pipeline.ValueJsonField)
      .searchKey("13")
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty &&
      scans.forall(_.metadata("PushedFilters").contains("EqualTo(key,13)")), plan)
    val filters = plan.collect { case f: FilterExec => f }
    assert(filters.nonEmpty, plan)
    filters.foreach(f =>
      assert(f.collect { case e: Exchange => e }.isEmpty, plan))
  }

  test("ChangelogSink.read opens the table without a Spark job, with the " +
      "schema Spark would infer") {
    val dir = Files.createTempDirectory("facade-open").toString
    ChangelogSink.append(Pipeline.envelope(spark, sf), dir)
    ChangelogSink.append(Pipeline.envelope(spark, sf), dir)
    val (schema, jobs) = withJobCount(ChangelogSink.read(spark, dir).schema)
    assert(jobs == 0)
    assert(schema == spark.read.parquet(dir).schema)
    // two topics: the first topic in sorted order supplies the payload
    // fields, whatever order the filesystem lists them in
    val message = ChangelogSink.read(spark, twoTopicDir).schema("message")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(message.fieldNames.contains("event_type"), message)
  }
}
