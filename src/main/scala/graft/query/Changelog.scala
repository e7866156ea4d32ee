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
 * Replays are made safe by deduplicating on `uid` (topic+partition+offset,
 * the reference's ES `_id`), and WHERE the dedup sits is the cost model:
 *
 *  - the row filters (`searchKey`, `searchKeyTopic`, `searchField`,
 *    `searchJson`, `tombstones`, `search`, `matchPhrase`, `fuzzy`,
 *    `spanNear`) and `discover`'s time window apply to the RAW sink read
 *    and `dropDuplicates("uid")` runs on the surviving rows only: the
 *    predicate reaches the scan (`topic` prunes partitions, `key` lands in
 *    `PushedFilters`) and the shuffle carries only the hits;
 *  - `latest` ranks the raw read directly: copies of a uid are one Kafka
 *    record, so they tie on (timestamp, offset) and `row_number` keeps
 *    exactly one of them;
 *  - `histogram`, `matchQuery`, [[frame]] and [[asView]] need the whole
 *    deduplicated collection and dedup first.
 *
 * Filter-then-dedup is sound because a uid names ONE Kafka record and
 * every stored copy came from that record through the same SMT chain, so
 * a row predicate keeps all of a uid's copies or none of them. Where
 * copies could differ (a re-ingest under another reader schema), the
 * filtered result is one that the dedup-first form, which keeps an
 * arbitrary copy, could also have returned.
 */
case class Changelog(spark: SparkSession, path: String,
    valueJsonField: String = "value") {

  /** The sink read as stored: replayed records appear once per copy. */
  private def raw: DataFrame = ChangelogSink.read(spark, path)

  /** The envelope frame, replay-safe: the whole table deduplicated on
    * `uid` (one shuffle of every row). */
  def frame: DataFrame = raw.dropDuplicates("uid")

  /** `filter` over the raw sink read, then the uid dedup over its hits. */
  private def hits(filter: DataFrame => DataFrame): DataFrame =
    filter(raw).dropDuplicates("uid")

  private def payload: Column =
    coalesce(col(s"message.`$valueJsonField`").cast("string"), lit(""))

  def discover(from: Column, to: Column, n: Int): DataFrame =
    LogQueries.discoverPage(
      hits(_.where(col("timestamp").between(from, to))), from, to, n)

  def histogram(bucket: String = "hour"): DataFrame =
    LogQueries.discoverHistogram(frame, bucket)

  /** The Kibana search box itself: a KQL-ish query STRING over the
    * changelog — `search("key:13 AND topic:events")` — parsed into a
    * Catalyst predicate ([[Kql]] grammar; free-text terms match the
    * payload's JSON-string view). */
  def search(query: String): DataFrame =
    hits(_.where(Kql.parse(query, s"message.$valueJsonField")))

  def searchKey(key: String): DataFrame = hits(LogQueries.searchKey(_, key))

  def searchKeyTopic(key: String, topic: String): DataFrame =
    hits(LogQueries.searchKeyTopic(_, key, topic))

  def searchField(fieldPath: String, value: Any): DataFrame =
    hits(LogQueries.searchField(_, fieldPath, value))

  def searchJson(jsonPath: String, value: String): DataFrame =
    hits(LogQueries.searchJson(_, valueJsonField, jsonPath, value))

  def tombstones(): DataFrame =
    hits(LogQueries.tombstones(_, valueJsonField))

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
   * linear at any scale; only its hits reach the uid dedup's shuffle.
   */
  def matchPhrase(phrase: String): DataFrame =
    hits(_.where(graft.functions.PhraseMatch.phrase(payload, phrase)))

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
    hits(_.where(graft.functions.FuzzyMatch.fuzzy(payload, term, maxDist)))

  /** Ordered-proximity search (ES/Lucene `span_near`, `in_order: true`):
    * like [[matchPhrase]] but tolerating up to `slop` interleaved tokens
    * between the phrase tokens — the Lucene `"a b"~N` query. */
  def spanNear(phrase: String, slop: Int): DataFrame =
    hits(_.where(graft.functions.PhraseMatch.near(payload, phrase, slop)))

  def latest(): DataFrame = LogQueries.latestStatePerKey(raw)

  /** Register for `spark.sql` — the strict superset of Kibana's surface. */
  def asView(name: String): Unit = frame.createOrReplaceTempView(name)
}
