package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.ChangelogSink

/**
 * User-facing handle on a sunk changelog table — what a kafana user gets
 * instead of the Kibana UI. Binds the [[LogQueries]] capability surface
 * (and `spark.sql` via [[asView]]) to a changelog location, with every
 * topic/date predicate benefitting from the sink's partition layout.
 *
 * {{{
 *   val log = Changelog(spark, "/data/changelog")
 *   log.discover(from, to, n = 100)             // Kibana Discover
 *   log.searchKey("42")                          // key: "42"
 *   log.searchKeyTopic("42", "orders")           // key + topic
 *   log.tombstones()                             // deletions audit
 *   log.latest()                                 // compacted state view
 *   log.asView("changelog"); spark.sql("...")    // full SQL
 * }}}
 *
 * The sink stores each `uid` once ([[ChangelogSink.append]]), so every
 * operation is its [[LogQueries]] call on the sink read as stored: a row
 * predicate reaches the scan (`topic` prunes partitions, `key` lands in
 * `PushedFilters`), and no operation shuffles to deduplicate.
 */
case class Changelog(spark: SparkSession, path: String,
    valueJsonField: String = "value") {

  /** The envelope frame: the sink read, one row per uid. */
  def frame: DataFrame = ChangelogSink.read(spark, path)

  private def payload: Column =
    coalesce(col(s"message.`$valueJsonField`").cast("string"), lit(""))

  def discover(from: Column, to: Column, n: Int): DataFrame =
    LogQueries.discoverPage(frame, from, to, n)

  def histogram(bucket: String = "hour"): DataFrame =
    LogQueries.discoverHistogram(frame, bucket)

  /** The Kibana search box itself: a KQL-ish query STRING over the
    * changelog — `search("key:13 AND topic:events")` — parsed into a
    * Catalyst predicate ([[Kql]] grammar; free-text terms match the
    * payload's JSON-string view). */
  def search(query: String): DataFrame =
    frame.where(Kql.parse(query, s"message.$valueJsonField"))

  def searchKey(key: String): DataFrame = LogQueries.searchKey(frame, key)

  def searchKeyTopic(key: String, topic: String): DataFrame =
    LogQueries.searchKeyTopic(frame, key, topic)

  def searchField(fieldPath: String, value: Any): DataFrame =
    LogQueries.searchField(frame, fieldPath, value)

  def searchJson(jsonPath: String, value: String): DataFrame =
    LogQueries.searchJson(frame, valueJsonField, jsonPath, value)

  def tombstones(): DataFrame =
    LogQueries.tombstones(frame, valueJsonField)

  /**
   * Kibana's search box: a relevance-ranked match query over the record
   * payloads (ES `match` semantics via Okapi BM25 —
   * [[graft.ext.TextAnalysis.bm25]]). The JSON payload string is
   * tokenized on non-alphanumerics; returns the top-k envelope rows with
   * `score` and `rank` attached. Postings are pruned to the query terms
   * before any aggregation, so cost is linear in matching postings at
   * any scale.
   */
  def matchQuery(terms: Seq[String], k: Int = 20): DataFrame = {
    val searchable = frame.withColumn("_text",
      trim(regexp_replace(payload, "[^a-zA-Z0-9]+", " ")))
    val ranked = graft.ext.TextAnalysis.bm25(
      searchable, "uid", "_text", terms, k)
    ranked.join(frame, "uid")
      .orderBy(col("rank"))
  }

  /**
   * ES `match_phrase` over the record payloads: the analyzed tokens of
   * `phrase` must appear consecutively in the payload's analyzed token
   * stream ([[graft.functions.PhraseMatch]]) — `"Spark streaming"`
   * matches a payload containing `spark, streaming.` the way Kibana's
   * quoted search does. A plain map-side filter predicate over the scan,
   * linear at any scale.
   */
  def matchPhrase(phrase: String): DataFrame =
    frame.where(graft.functions.PhraseMatch.phrase(payload, phrase))

  /** Lucene fuzzy term search (the query-bar `term~` / `term~N` suffix,
    * ES `fuzziness`): rows whose payload's analyzed token stream contains
    * a token within classic Levenshtein distance of the analyzed term —
    * a typo'd `fuzzy("purchse")` still finds `purchase` records.
    * `maxDist = None` selects the ES AUTO schedule (term length
    * 0-2/3-5/≥6 → 0/1/2); explicit distances outside ES's 0..2 limit
    * are REJECTED with an IllegalArgumentException at plan time. Like
    * [[matchPhrase]], a plain map-side filter predicate
    * ([[graft.functions.FuzzyMatch]]), linear at any scale. */
  def fuzzy(term: String, maxDist: Option[Int] = None): DataFrame =
    frame.where(graft.functions.FuzzyMatch.fuzzy(payload, term, maxDist))

  /** Ordered-proximity search (ES/Lucene `span_near`, `in_order: true`):
    * like [[matchPhrase]] but tolerating up to `slop` interleaved tokens
    * between the phrase tokens — the Lucene `"a b"~N` query. */
  def spanNear(phrase: String, slop: Int): DataFrame =
    frame.where(graft.functions.PhraseMatch.near(payload, phrase, slop))

  def latest(): DataFrame = LogQueries.latestStatePerKey(frame)

  /** Register for `spark.sql` — the strict superset of Kibana's surface. */
  def asView(name: String): Unit = frame.createOrReplaceTempView(name)
}
