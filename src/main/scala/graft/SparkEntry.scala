package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.LogQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * Every entry in [[queries]] is one operator/capability from SURVEY.md §2;
 * [[oracleSql]] holds the DuckDB-dialect equivalent the driver hash-checks
 * at sf0.01. Column names and (where feasible) row order are aligned on
 * both sides.
 */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    LogQueries.discoverPage(
      Pipeline.envelope(spark, "/root/testdata/sf0.001"),
      lit("2024-01-01").cast("timestamp"),
      lit("2030-01-01").cast("timestamp"),
      100)

  /** DuckDB CTE reconstructing [[Pipeline.envelopeFlat]] from raw `events`
   * (the oracle's view of the ingest pipeline E2 — SURVEY.md §3). */
  private val envSql: String =
    """WITH env AS (
      |  SELECT
      |    concat('events', '+', CAST(CAST(user_id % 4 AS INTEGER) AS VARCHAR),
      |           '+', CAST(event_id AS VARCHAR))           AS uid,
      |    CAST(user_id AS VARCHAR)                         AS "key",
      |    'events'                                         AS topic,
      |    CAST(user_id % 4 AS INTEGER)                     AS "partition",
      |    event_id                                         AS "offset",
      |    ts                                               AS "timestamp",
      |    CASE WHEN event_id % 50 = 0 THEN NULL ELSE event_type END AS event_type,
      |    CASE WHEN event_id % 50 = 0 THEN NULL ELSE "value" END    AS "value",
      |    CASE WHEN event_id % 50 = 0 THEN NULL ELSE props END      AS props,
      |    CASE WHEN event_id % 50 = 0 THEN 'TOMBSTONE'
      |         ELSE CAST(to_json(struct_pack(event_type := event_type,
      |                                       "value" := "value", props := props))
      |                   AS VARCHAR)
      |    END AS value_json
      |  FROM events
      |)
      |""".stripMargin

  /** The heterogeneous two-topic changelog (events + orders) as DuckDB
   * CTEs ending in `u` — the oracle view of [[Pipeline.multiTopicFlat]],
   * shared by kq8 and kq12. */
  private val multiEnvSql: String =
    envSql.stripSuffix("\n") + """,
      |oenv AS (
      |  SELECT
      |    concat('orders', '+', CAST(CAST(o_custkey % 4 AS INTEGER) AS VARCHAR),
      |           '+', CAST(o_orderkey AS VARCHAR))     AS uid,
      |    CAST(o_custkey AS VARCHAR)                   AS "key",
      |    'orders'                                     AS topic,
      |    CAST(o_custkey % 4 AS INTEGER)               AS "partition",
      |    o_orderkey                                   AS "offset",
      |    o_orderdate                                  AS "timestamp",
      |    CAST(to_json(struct_pack(o_orderstatus := o_orderstatus,
      |                             o_totalprice := o_totalprice,
      |                             o_orderpriority := o_orderpriority))
      |         AS VARCHAR)                             AS value_json,
      |    o_orderstatus, o_totalprice, o_orderpriority
      |  FROM orders),
      |u AS (
      |  SELECT uid, "key", topic, "partition", "offset", "timestamp",
      |         event_type, "value", props, value_json,
      |         NULL AS o_orderstatus, NULL AS o_totalprice,
      |         NULL AS o_orderpriority
      |  FROM env
      |  UNION ALL
      |  SELECT uid, "key", topic, "partition", "offset", "timestamp",
      |         NULL AS event_type, NULL AS "value", NULL AS props,
      |         value_json, o_orderstatus, o_totalprice, o_orderpriority
      |  FROM oenv)
      |""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    logQueries ++ graft.sql.RelQueries.queries ++ graft.ext.ExtQueries.queries

  private def logQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Q1a: Discover log page (time range + top-k) --------------------
    "kq1_discover_page" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("timestamp").between(
          lit("2024-01-01").cast("timestamp"), lit("2030-01-01").cast("timestamp")))
        .orderBy(col("timestamp").desc, col("offset").desc)
        .limit(100)),

    // ---- Q1b: Discover date histogram -----------------------------------
    "kq1_discover_hist" -> ((s, dir) =>
      LogQueries.discoverHistogram(Pipeline.envelope(s, dir), "hour")
        .orderBy(col("bucket"))),

    // ---- Q1c: histogram broken down by a field (Kibana's stacked-bar ----
    // ---- viz: date_histogram + terms sub-aggregation) -------------------
    "kq11_hist_breakdown" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"), col("event_type"))),

    // ---- Q2: search key across topics ------------------------------------
    "kq2_search_key" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("key") === "13")
        .orderBy(col("offset"))),

    // ---- Q3: search key AND topic ----------------------------------------
    "kq3_search_key_topic" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("key") === "7" && col("topic") === "events")
        .orderBy(col("offset"))),

    // ---- Q4: search on a structured message field ------------------------
    "kq4_search_field" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type") === "click")
        .orderBy(col("offset"))),

    // ---- Q4 (heterogeneous): search via the JSON-string payload ----------
    "kq4b_search_json" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(get_json_object(col("value_json"), "$.event_type") === "error")
        .orderBy(col("offset"))),

    // ---- Q5: tombstone visibility ----------------------------------------
    "kq5_tombstones" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("value_json") === graft.model.Envelope.Tombstone)
        .orderBy(col("offset"))),

    // ---- latest-state-per-key compaction view (README.md:13) -------------
    "kq6_latest_state" -> ((s, dir) =>
      LogQueries.latestStatePerKey(Pipeline.envelope(s, dir))
        .select(col("uid"), col("key"), col("topic"), col("partition"),
          col("offset"), col("timestamp"))
        .orderBy(col("key"))),

    // ---- full changelog materialization (the sink's view, K1) ------------
    "kq7_changelog" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir).orderBy(col("offset"))),

    // ---- Q2 across a heterogeneous multi-topic changelog (foo,bar model) --
    "kq8_multi_topic" -> ((s, dir) =>
      Pipeline.multiTopicFlat(s, dir)
        .where(col("key") === "13")
        .orderBy(col("topic"), col("offset"))),

    // ---- Q1d: trend over the date histogram (Kibana moving-average / ----
    // ---- serial-diff pipeline aggregations), per topic across the ------
    // ---- heterogeneous multi-topic changelog ----------------------------
    "kq12_trend" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the multi-topic frame keeps `topic` data-driven (a single-topic
      // envelope's literal topic would constant-fold the partition key out
      // of the window spec entirely)
      val hourly = Pipeline.multiTopicFlat(s, dir)
        .groupBy(col("topic"), date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"))
      // per-topic trend: the window partitions on topic, so the sort is
      // per-topic, not global — bounded by the per-topic bucket count
      val w = Window.partitionBy(col("topic")).orderBy(col("bucket"))
      hourly
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("delta", col("n") - coalesce(col("prev_n"), col("n")))
        .withColumn("ma3", round(
          sum(col("n")).over(w.rowsBetween(-2, 0)).cast("double")
            / least(row_number().over(w), lit(3)), 4))
        .orderBy(col("topic"), col("bucket"))
    }),

    // ---- S1/S2 + registry evolution: two writer schema versions, one ----
    // ---- topic, per-record id dispatch, reader-schema defaults ----------
    "kq10_schema_evolution" -> ((s, dir) =>
      graft.ingest.AvroIngest.evolutionDemo(s, dir)),

    // ---- the WIRE path: Confluent-framed BYTES (tombstones = null ------
    // ---- bytes) → tombstone-before-decode → Avro decode → SMT chain →  --
    // ---- envelope; must be row-identical to the parquet-shaped env -----
    "kq22_wire_path" -> ((s, dir) =>
      graft.ingest.AvroIngest.wirePathEnvelope(s, dir)
        .orderBy(col("offset"))),

    // ---- kq10's evolution decode resolved over a LIVE REST registry ----
    // ---- (in-process Confluent-protocol stub + HttpSchemaResolver): ----
    // ---- identical output to the static-map decode proves the seam -----
    "kq103_registry_decode" -> ((s, dir) =>
      graft.ingest.AvroIngest.registryDemo(s, dir)),

    // ---- Spark 4 transformWithState, driver-visible: the envelope ------
    // ---- replayed as a stream (AvailableNow, RocksDB state store) ------
    // ---- through the typed StatefulProcessor; final per-key state ------
    // ---- equals the SQL fixpoint the oracle computes -------------------
    "kq23_stream_key_stats" -> ((s, dir) =>
      graft.streaming.StreamPipeline.keyStatsBatch(s,
        Pipeline.envelope(s, dir), Pipeline.ValueJsonField)),

    // ---- Spark 4 state-store data source: the streaming checkpoint ----
    // ---- read back as a TABLE and hash-checked against the batch ------
    // ---- aggregate — the ops audit of what the job believes. ----------
    "kq74_state_audit" -> ((s, dir) =>
      graft.streaming.StreamPipeline.stateAuditBatch(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- transformWithState MAP STATE (the remaining state ------------
    // ---- primitive after kq23's value state, kq49's timers, kq56's ----
    // ---- list state): per-key event_type→count map, point-updated -----
    // ---- per arrival; fixpoint == the batch group-by. -----------------
    "kq83_stream_map_state" -> ((s, dir) =>
      graft.streaming.StreamPipeline.mapStateCountsBatch(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- Kibana `rare_terms` aggregation: the least-frequent keys in ----
    // ---- the changelog (long-tail keys surface config errors / orphan ---
    // ---- producers). (doc_count, key) is a total order, so the LIMIT ----
    // ---- cut is deterministic; plans as one hash agg + top-k ------------
    "kq13_rare_terms" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .groupBy(col("key"))
        .agg(count(lit(1)).as("doc_count"))
        .orderBy(col("doc_count"), col("key"))
        .limit(20)),

    // ---- Kibana `percentiles` aggregation per event_type, as the EXACT --
    // ---- rank statistic (value at row ceil(p·n) of the (value, offset) --
    // ---- order) rather than an interpolated estimator — the selected ----
    // ---- value is an element of the data, so both engines return the ----
    // ---- identical bits. ceil(p·n) is IEEE double both sides ------------
    "kq14_percentiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val env = Pipeline.envelopeFlat(s, dir).where(col("value").isNotNull)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("offset"))
      env.select(col("event_type"), col("value"), col("offset"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(
          max(when(col("rn") === ceil(col("n") * 0.5), col("value")))
            .as("p50"),
          max(when(col("rn") === ceil(col("n") * 0.9), col("value")))
            .as("p90"),
          max(when(col("rn") === ceil(col("n") * 0.99), col("value")))
            .as("p99"))
        .orderBy(col("event_type"))
    }),

    // ---- Kibana date histogram with gap filling (extended_bounds / -----
    // ---- min_doc_count:0 — empty hour buckets appear as zero rows). ----
    // ---- The bucket spine EXPLODEs from the 1-row min/max aggregate — ---
    // ---- no driver-side loop, no collect --------------------------------
    "kq17_hist_gapfill" -> ((s, dir) => {
      val env = Pipeline.envelopeFlat(s, dir)
      val hourly = env
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"))
      val spine = env
        .agg(date_trunc("hour", min(col("timestamp"))).as("lo"),
          date_trunc("hour", max(col("timestamp"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).as("bucket"))
      spine.join(hourly, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("bucket"))
    }),

    // ---- Kibana numeric `histogram` agg: fixed-interval buckets over ----
    // ---- the payload value. Spark floor() returns LONG while DuckDB's ---
    // ---- returns DOUBLE, so the oracle casts its bucket to BIGINT to ----
    // ---- align dtypes (40 vs 40.0 hash differently even when counts ----
    // ---- agree — r4's only red row); money sums decimal-exact -----------
    "kq19_numeric_hist" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("value").isNotNull)
        .groupBy((floor(col("value") / 10) * 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy(col("bucket"))),

    // ---- Kibana `composite` aggregation: keyset-paginated buckets — -----
    // ---- page N resumes AFTER a cursor key instead of re-ranking, so ----
    // ---- deep pagination over millions of buckets stays O(page) ---------
    "kq20_composite_after" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .groupBy(col("key"))
        .agg(count(lit(1)).as("doc_count"))
        .where(col("key") > "13") // the page cursor (exclusive)
        .orderBy(col("key"))
        .limit(10)),

    // ---- Kibana `filters` aggregation: several named predicates, each ---
    // ---- counted in ONE scan (conditional aggregation — no N passes, ----
    // ---- no union of filtered subqueries) -------------------------------
    "kq15_filters_agg" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("purchases"),
          sum(when(col("value_json") === "TOMBSTONE", 1L).otherwise(0L))
            .as("tombstones"),
          sum(when(col("value") > 50.0, 1L).otherwise(0L))
            .as("high_value"))),

    // ---- Kibana terms agg + `top_hits` sub-aggregation: the 3 most ------
    // ---- recent records per event_type — a bounded per-key top-k --------
    // ---- window, the partition key is data-driven so the sort is --------
    // ---- per-group, never global ----------------------------------------
    "kq16_top_hits" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // uid is the final tiebreak: (timestamp, offset) is NOT a total
      // order across topics/partitions (offsets repeat per
      // topic-partition), and a cross-topic tie would pick different
      // hits on different engines
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("timestamp").desc, col("offset").desc, col("uid"))
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .withColumn("hit_rank", row_number().over(w))
        .where(col("hit_rank") <= 3)
        .select(col("event_type"), col("hit_rank"), col("uid"),
          col("timestamp"), col("value"))
        .orderBy(col("event_type"), col("hit_rank"))
    }),

    // ---- the Kibana search-box surface: a KQL-ish query STRING parsed ---
    // ---- into a Catalyst predicate (wildcard prefix, range, NOT/OR/AND --
    // ---- precedence, free text) — pushdown/codegen apply as if the ------
    // ---- user had written the Column by hand ----------------------------
    "kq18_kql" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(LogQueries.kql(
          """event_type:cl* OR (value >= 90 AND NOT event_type:signup)
            | OR "TOMBSTONE"""".stripMargin.replace("\n", " ")))
        .orderBy(col("offset"))),

    // ---- KQL free text through the ES analyzer: the bare MIXED-CASE -----
    // ---- term must match the lowercased analyzed token stream of the ----
    // ---- JSON payload, and the embedded wildcard (c*ck → click) must ----
    // ---- translate to an escaped LIKE — both reference search-box -------
    // ---- behaviors (README.md:40-42) ------------------------------------
    "kq21_kql_freetext" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(LogQueries.kql("PURCHASE OR event_type:c*ck"))
        .orderBy(col("offset"))),

    // ---- KQL quoted phrase = analyzed match_phrase: the mixed-case ------
    // ---- punctuated phrase "Event_Type: PURCHASE" analyzes to the -------
    // ---- token sequence [event, type, purchase], which must appear ------
    // ---- CONSECUTIVELY in the payload's analyzed stream — ES's ----------
    // ---- positional quoted-search semantics (README.md:40-42). Every ----
    // ---- row's JSON has [event, type] adjacent, so only the third -------
    // ---- token's adjacency separates purchases from the rest ------------
    "kq24_kql_phrase" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(LogQueries.kql("\"Event_Type: PURCHASE\" and value >= 50"))
        .orderBy(col("offset"))),

    // ---- KQL field existence (f:*) — Kibana's "field exists" filter ----
    // ---- pill; a bare * value is IS NOT NULL, not a match-all LIKE, ----
    // ---- so tombstones (all payload fields null) drop out ---------------
    "kq26_kql_exists" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(LogQueries.kql("event_type:* AND value >= 99"))
        .orderBy(col("offset"))),

    // ---- Lucene proximity syntax in the search box: "a b"~1 = in-order --
    // ---- span_near with slop 1 — [event, purchase] must appear in ------
    // ---- order with at most one interleaved token ('type' in the JSON); -
    // ---- the EXACT phrase would not match, the slop bridges the gap -----
    "kq28_kql_slop" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(LogQueries.kql("\"Event PURCHASE\"~1 and value >= 50"))
        .orderBy(col("offset"))),

    // ---- the LIVE-TAIL search box: the same KQL string (wildcard + ------
    // ---- analyzed match_phrase + range) parsed once and planned as a ----
    // ---- STREAMING scan predicate — AvailableNow replay through the -----
    // ---- streaming planner, final frame row-identical to the batch ------
    // ---- semantics the oracle computes -----------------------------------
    "kq32_stream_search" -> ((s, dir) =>
      graft.streaming.StreamPipeline.kqlSearchBatch(s,
        Pipeline.envelopeFlat(s, dir),
        "event_type:cl* OR \"Event_Type: PURCHASE\" OR value >= 95")),

    // ---- Lucene fuzzy suffix in the search box: `purchse~` (a typo'd ----
    // ---- query) = ES fuzziness AUTO — len 7 -> distance 2, so the -------
    // ---- analyzed token 'purchase' (one insertion away) still matches; --
    // ---- the whole thing is a scan-stage codegen'd predicate ------------
    "kq31_kql_fuzzy" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(LogQueries.kql("purchse~ and value >= 50"))
        .orderBy(col("offset"))),

    // ---- Kibana terms agg ORDERED BY A SUB-METRIC (order: sum(value) ----
    // ---- desc, not doc count — the "Top N by metric" viz config); -------
    // ---- decimal-exact sum so the ordering key is cross-engine ----------
    // ---- bit-identical, top-k via TakeOrderedAndProject -----------------
    "kq25_terms_by_metric" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("doc_count"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy(col("sum_value").desc, col("event_type"))
        .limit(5)),

    // ---- Kibana pipeline aggregations over the date histogram: ----------
    // ---- cumulative_sum + derivative (the TSVB/visualization pair) — ----
    // ---- integer counts through integer window functions, so no --------
    // ---- cross-engine float drift is possible ---------------------------
    "kq27_pipeline_aggs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Pipeline.envelopeFlat(s, dir)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("bucket"))
      // single unpartitioned window over ~hundreds of buckets (one per
      // hour) — bounded by the time range, not the data volume; the
      // heavy lifting happened in the partial/final count above. The
      // WindowExec single-partition warning in the bench tail is THIS
      // bounded input: LogQueriesSpec pins the plan shape (window reads
      // the post-agg frame, <= 744 rows at any scale factor)
      hourly
        .withColumn("cum_n",
          sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("deriv", col("n") - lag(col("n"), 1).over(w))
        .orderBy(col("bucket"))
    }),

    // ---- Kibana heat-map viz: date_histogram × numeric histogram — a ----
    // ---- 2-D bucket grid (hour, value decile), one hash aggregation; ----
    // ---- the bucket cast aligns Spark's LONG floor with DuckDB's -------
    // ---- DOUBLE (the kq19 rule) -----------------------------------------
    "kq29_heatmap" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("value").isNotNull)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"),
          (floor(col("value") / 10) * 10).as("value_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"), col("value_bucket"))),

    // ---- Kibana `range` aggregation with a `missing` bucket: explicit ---
    // ---- named value ranges (unlike kq19's fixed-interval histogram) ----
    // ---- plus the tombstones' null values surfaced as their own bucket --
    "kq30_range_agg" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .withColumn("range",
          when(col("value").isNull, "missing")
            .when(col("value") < 25, "0-25")
            .when(col("value") < 50, "25-50")
            .when(col("value") < 75, "50-75")
            .otherwise("75+"))
        .groupBy(col("range"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy(col("range"))),

    // ---- ES search_after: keyset pagination on the Discover sort tuple --
    // ---- (timestamp DESC, offset DESC) — the O(page) deep-scroll path; --
    // ---- the cursor inequality is pushed to the scan ---------------------
    "kq34_search_after" -> ((s, dir) =>
      LogQueries.searchAfter(Pipeline.envelopeFlat(s, dir),
        lit("2024-01-20 12:00:00").cast("timestamp"), lit(5000L), 100)),

    // ---- ES composite aggregation: page 2 of the (event_type, key) ------
    // ---- bucket stream, resuming after the ('error','42') after_key; ----
    // ---- the cursor filters GROUPING keys, so it pushes below the agg ---
    "kq33_composite_agg" -> ((s, dir) =>
      LogQueries.compositeAgg(Pipeline.envelopeFlat(s, dir),
        "event_type", "key", Some(("error", "42")), 20)),

    // ---- Kibana auto_date_histogram: interval chosen from the rounding --
    // ---- ladder to fit the bucket budget (100 → the 12h rung over the ---
    // ---- one-month fixture), bounds via a 1-row broadcast aggregate -----
    "kq35_auto_hist" -> ((s, dir) =>
      LogQueries.autoDateHistogram(Pipeline.envelopeFlat(s, dir), 100)),

    // ---- ES extended_stats: count/min/max/sum/avg/variance/std per ------
    // ---- event type — exact int64 cents arithmetic, one hash agg --------
    "kq36_extended_stats" -> ((s, dir) =>
      LogQueries.extendedStats(Pipeline.envelopeFlat(s, dir))),

    // ---- TSVB bucket_script: per-bucket error rate in ppm via integer ---
    // ---- floor-division over sibling metrics of one hash agg ------------
    "kq37_bucket_script" -> ((s, dir) =>
      LogQueries.bucketScript(Pipeline.envelopeFlat(s, dir))),

    // ---- ES adjacency_matrix: named filters + pairwise intersections ----
    // ---- counted in ONE scan (1-row conditional aggregate) --------------
    "kq38_adjacency_matrix" -> ((s, dir) =>
      LogQueries.adjacencyMatrix(Pipeline.envelopeFlat(s, dir))),

    // ---- ES percentile_ranks: % of values at-or-below each bound, ------
    // ---- one conditional 1-row aggregate, exact integer ratios ----------
    "kq39_percentile_ranks" -> ((s, dir) =>
      LogQueries.percentileRanks(Pipeline.envelopeFlat(s, dir))),

    // ---- ES weighted_avg: value weighted by the JSON payload field -----
    // ---- props.k — exact cents x weight int64 sums, one IEEE division --
    "kq40_weighted_avg" -> ((s, dir) =>
      LogQueries.weightedAvg(Pipeline.envelopeFlat(s, dir))),

    // ---- ES categorize_text: messages clustered by token PATTERN -------
    // ---- (number runs dropped, first 5 shape tokens), counted with ------
    // ---- a MIN-uid example — the Kibana Discover "Patterns" tab ---------
    "kq41_categorize_text" -> ((s, dir) =>
      LogQueries.categorizeText(Pipeline.envelopeFlat(s, dir))),

    // ---- streaming threshold alert: 6h tumbling event-time windows ------
    // ---- per type aggregated INSIDE the streaming planner (Complete ----
    // ---- mode, AvailableNow replay); alert rule = n > 1.2x mean via ----
    // ---- exact integer cross-multiplication downstream ------------------
    "kq42_stream_alert" -> ((s, dir) =>
      graft.streaming.StreamPipeline.windowAlertBatch(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- streaming dedup: dropDuplicates state on payload content -------
    // ---- inside the streaming planner; content-determined aggregate -----
    // ---- downstream so arrival order can't leak into the result ---------
    "kq43_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamPipeline.streamDedupBatch(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- kq42's PRODUCTION sibling: watermark + Append into a parquet --
    // ---- sink — bounded state, each window emitted once when closed; ----
    // ---- the open tail windows are absent BY SEMANTICS -----------------
    "kq44_stream_alert_wm" -> ((s, dir) =>
      graft.streaming.StreamPipeline.windowAlertWatermarked(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- streaming windowed TOP-K via transformWithState: MapState -----
    // ---- per open window + an event-time timer at the window end; ------
    // ---- the timer ranks and emits only the top-3 — the "Top N over ----
    // ---- time" viz as one bounded-state operator ------------------------
    "kq94_stream_topk" -> ((s, dir) =>
      graft.streaming.StreamPipeline.windowTopk(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- CHECKPOINT RESTART: kq44's aggregation driven as TWO ----------
    // ---- AvailableNow runs sharing one checkpoint (input split at ------
    // ---- the median event time) — offsets and window state resume, ----
    // ---- nothing reprocessed, nothing double-emitted; the union of ----
    // ---- both runs equals kq44's batch tail rule on the FULL input -----
    "kq101_incremental_restart" -> ((s, dir) =>
      graft.streaming.StreamPipeline.incrementalRestart(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- kq43's PRODUCTION sibling: dropDuplicatesWithinWatermark — ----
    // ---- dedup state EVICTED as the watermark advances -----------------
    "kq45_stream_dedup_wm" -> ((s, dir) =>
      graft.streaming.StreamPipeline.streamDedupWatermarked(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- stream-stream interval join: q26's funnel correlation as two --
    // ---- watermarked unbounded streams, state TTL'd by the time bounds -
    "kq46_stream_join" -> ((s, dir) =>
      graft.streaming.StreamPipeline.streamIntervalJoin(s,
        graft.ingest.Tables.load(s, dir, "events"))),

    // ---- left-outer interval join: null-extended rows emitted BY the ---
    // ---- watermark (state eviction), the deep outer-join semantics -----
    "kq47_stream_join_outer" -> ((s, dir) =>
      graft.streaming.StreamPipeline.streamIntervalJoinOuter(s,
        graft.ingest.Tables.load(s, dir, "events"))),

    // ---- watermarked streaming session windows: q25's sessionization ---
    // ---- as bounded-state streaming; open tail sessions absent by ------
    // ---- semantics (emitted only once the watermark passes their end) --
    "kq48_stream_session" -> ((s, dir) =>
      graft.streaming.StreamPipeline.sessionWindowWatermarked(s,
        graft.ingest.Tables.load(s, dir, "events"))),

    // ---- transformWithState event-time TIMERS: alert-on-absence — the --
    // ---- trigger is the ABSENCE of rows, fired by the watermark; state -
    // ---- clears on emission, live users stay armed -----------------------
    "kq49_stream_inactivity" -> ((s, dir) =>
      graft.streaming.StreamPipeline.inactivityWatch(s,
        graft.ingest.Tables.load(s, dir, "events"))),

    // ---- transformWithState LIST state: CEP pattern alert — ≥3 clicks --
    // ---- by one user within 24 h, counted over state ∪ batch at -----
    // ---- each arrival; state pruned losslessly at wm − window ----------
    "kq56_stream_cep" -> ((s, dir) =>
      graft.streaming.StreamPipeline.patternAlerts(s,
        graft.ingest.Tables.load(s, dir, "events"))),

    // ---- streaming geofence (Kibana Maps alerting): ENTER/EXIT on ------
    // ---- fence-side TRANSITIONS of each user's movement track — --------
    // ---- per-user ValueState carries the last fix; bbox test is two ----
    // ---- integer range predicates in the scan ---------------------------
    "kq109_stream_geofence" -> ((s, dir) =>
      graft.streaming.StreamPipeline.geofenceAlerts(s, dir)),

    // ---- streaming POLYGON geofence (ES geo_shape + Watcher): kq109's --
    // ---- ENTER/EXIT ValueState machine with the concave-polygon fence --
    // ---- (even-odd integer ray casting) evaluated map-side in the scan -
    "kq111_polygon_fence" -> ((s, dir) =>
      graft.streaming.StreamPipeline.polygonFenceAlerts(s, dir)),

    // ---- stream-static enrichment: the event stream left-joined to a ---
    // ---- broadcast static dim — stateless (no watermark/state store), --
    // ---- dim re-resolved per micro-batch (slowly-changing-dim story) ---
    "kq50_stream_enrich" -> ((s, dir) =>
      graft.streaming.StreamPipeline.streamStaticEnrich(s,
        graft.ingest.Tables.load(s, dir, "events"),
        graft.ingest.Tables.load(s, dir, "customer"))),

    // ---- Kibana moving_fn + serial_diff pipeline aggs over the hourly --
    // ---- histogram: trailing-24-bucket moving sum and lag-24 seasonal --
    // ---- difference — integer-only windows on the bounded bucket frame -
    "kq51_moving_fn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Pipeline.envelopeFlat(s, dir)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"))
      // same bounded post-agg frame as kq27 (≤ one row per hour of data
      // span) — the single-partition window never sees raw events
      val w = Window.orderBy(col("bucket"))
      hourly
        .withColumn("mov24", sum(col("n")).over(w.rowsBetween(-23, 0)))
        .withColumn("sdiff24", col("n") - lag(col("n"), 24).over(w))
        .orderBy(col("bucket"))
    }),

    // ---- ES moving_fn MODELS (beyond kq51's sum/diff): ewma, ----------
    // ---- linearWeightedAvg and Holt linear trend over the same --------
    // ---- trailing-24-bucket frame. alpha = beta = 1/2 keeps ewma ------
    // ---- DYADIC-exact (frac bits grow <= 1/step over a 24-window, -----
    // ---- integer counts — every double is exact); Holt's coupled ------
    // ---- recurrence can exceed 52 mantissa bits, so its contract is ---
    // ---- the kq52 one: a FIXED-SHAPE IEEE op sequence (left-assoc, ----
    // ---- pinned below) that DuckDB's recursive-CTE replay repeats -----
    // ---- bit-for-bit. linearWeightedAvg stays EXACT-INTEGER as a ------
    // ---- (numerator, denominator) pair — never a rounded quotient. ----
    // ---- The fold is an interpreted HOF, but it runs on the bounded ---
    // ---- post-agg bucket frame (kq27/kq51 precedent), never on raw ----
    // ---- events: at 100 TB the window input is still <= one row per ---
    // ---- hour of span. --------------------------------------------------
    "kq58_moving_model" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Pipeline.envelopeFlat(s, dir)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("bucket")).rowsBetween(-23, 0)
      hourly
        .withColumn("vals", collect_list(col("n")).over(w))
        // ES MovingFunctions semantics: ewma seeds with the FIRST window
        // value (the seed takes no alpha); holt seeds s1 = v1, b1 = 0.
        // s' = ((x + s) + b)/2 and b' = ((s' - s) + b)/2 — the exact
        // left-assoc sequence the oracle mirrors.
        .withColumn("st", expr(
          """aggregate(vals,
            |  named_struct('k', 0L, 'avg', 0D, 'num', 0L, 's', 0D, 'b', 0D),
            |  (acc, x) -> named_struct(
            |    'k',   acc.k + 1L,
            |    'avg', IF(acc.k = 0L, CAST(x AS DOUBLE),
            |              (CAST(x AS DOUBLE) + acc.avg) / 2D),
            |    'num', acc.num + x * (acc.k + 1L),
            |    's',   IF(acc.k = 0L, CAST(x AS DOUBLE),
            |              (CAST(x AS DOUBLE) + acc.s + acc.b) / 2D),
            |    'b',   IF(acc.k = 0L, 0D,
            |              ((CAST(x AS DOUBLE) + acc.s + acc.b) / 2D
            |                - acc.s + acc.b) / 2D)))""".stripMargin))
        .select(col("bucket"), col("n"),
          col("st.avg").as("ewma24"),
          col("st.num").as("lin_num"),
          expr("st.k * (st.k + 1L) div 2L").cast("long").as("lin_den"),
          (col("st.s") + col("st.b")).as("holt1"))
        .orderBy(col("bucket"))
    }),

    // ---- exactly-once foreachBatch sink: batchId-keyed idempotent ------
    // ---- dynamic-partition overwrite; one batch's commit deliberately --
    // ---- replayed — the rollup must equal the plain batch aggregate ----
    "kq53_stream_exactly_once" -> ((s, dir) =>
      graft.streaming.StreamPipeline.exactlyOnceSink(s,
        graft.ingest.Tables.load(s, dir, "events"))),

    // ---- ES matrix_stats: per-type joint moments of (value, hour) ------
    // ---- — exact int64 covariance/variance numerators, one hash agg, ---
    // ---- correlation as one fixed-shape IEEE expression ----------------
    "kq52_matrix_stats" -> ((s, dir) =>
      LogQueries.matrixStats(Pipeline.envelopeFlat(s, dir))),

    // ---- ES field collapse: the Discover page deduplicated per key -----
    // ---- — one TOP HIT per collapse key (the key's most recent ---------
    // ---- record, Discover's own sort tuple) with the group's -----------
    // ---- inner-hit count; the page is the top-20 collapsed groups by ---
    // ---- the top hit's sort. Per-group top-1 is a bounded window on ----
    // ---- the data-driven key (never a global sort); the page itself ----
    // ---- is a top-k. uid is the final tiebreak for the same reason as --
    // ---- kq16: (timestamp, offset) is not a total order. ---------------
    "kq54_collapse" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byKey = Window.partitionBy(col("key"))
      val w = byKey.orderBy(col("timestamp").desc, col("offset").desc,
        col("uid"))
      Pipeline.envelopeFlat(s, dir)
        .withColumn("hit_rank", row_number().over(w))
        .withColumn("n_hits", count(lit(1)).over(byKey))
        .where(col("hit_rank") === 1)
        .select(col("key"), col("uid"), col("timestamp"), col("offset"),
          col("event_type"), col("n_hits"))
        .orderBy(col("timestamp").desc, col("offset").desc, col("uid"))
        .limit(20)
    }),

    // ---- ES percolator: REVERSE search — the stored-query registry is --
    // ---- matched against every incoming record. Each stored KQL string -
    // ---- parses (plan time) to a Catalyst predicate; ONE scan computes -
    // ---- all verdicts as an array of (query_id, hit) structs, explode + -
    // ---- filter keeps the matches. Map-only: no join, no shuffle — at --
    // ---- 100 TB percolation costs exactly one pass regardless of how ---
    // ---- many queries are registered. ----------------------------------
    "kq55_percolate" -> ((s, dir) => {
      val stored: Seq[(Int, String)] = Seq(
        1 -> "event_type:click AND value >= 50",
        2 -> "event_type:p*",
        3 -> "\"TOMBSTONE\"",
        4 -> "value < 10 OR event_type:signup")
      val verdicts = array(stored.map { case (id, q) =>
        struct(lit(id).as("query_id"), LogQueries.kql(q).as("hit"))
      }: _*)
      Pipeline.envelopeFlat(s, dir)
        .select(col("uid"), explode(verdicts).as("m"))
        .where(col("m.hit"))
        .select(col("m.query_id").as("query_id"), col("uid"))
        .orderBy(col("query_id"), col("uid"))
    }),

    // ---- right to erasure: delete one subject's records by rewriting ---
    // ---- ONLY the partitions that contain them (partition-pruned -------
    // ---- discovery + staged swap); the audit frame is the receipt ------
    "kq57_forget_key" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("kq57-sink").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(work)
      val sink = new java.io.File(work, "log").toString
      graft.sink.ChangelogSink.append(Pipeline.envelopeFlat(s, dir), sink)
      graft.sink.ChangelogSink.forgetKey(s, sink, "13")
        .orderBy(col("topic"), col("date"))
    }),

    // ---- BATCH right to erasure: a whole subject batch erased with ----
    // ---- ONE discovery scan + ONE staged rewrite (not a job loop ------
    // ---- per subject); per-subject receipts with partition totals -----
    "kq104_forget_batch" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("kq104-sink").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(work)
      val sink = new java.io.File(work, "log").toString
      graft.sink.ChangelogSink.append(Pipeline.envelopeFlat(s, dir), sink)
      graft.sink.ChangelogSink.forgetKeys(s, sink, Seq("7", "13", "21"))
        .orderBy(col("key"), col("topic"), col("date"))
    }),

    // ---- chained stateful streaming: watermarked dedup feeding a -------
    // ---- watermarked tumbling window in ONE query — replayed copies ----
    // ---- must collapse before the window counts them -------------------
    "kq61_stream_chain" -> ((s, dir) =>
      graft.streaming.StreamPipeline.streamDedupThenWindow(s,
        Pipeline.envelopeFlat(s, dir))),

    // ---- ES TSDB downsampling / rollup index: the hourly rollup is ----
    // ---- WRITTEN ONCE (count/sum-cents/min/max/last per metric -------
    // ---- bucket — the mergeable summary shape), and the daily query ---
    // ---- is answered FROM THE ROLLUP ONLY — raw events are never ------
    // ---- rescanned (the entry reads the persisted rollup table). ------
    // ---- The oracle aggregates the RAW events straight to days, so ----
    // ---- the hash proves rollup-mergeability: daily figures derived ---
    // ---- hourly-then-daily must equal raw-to-daily exactly — which ----
    // ---- is why every rollup stat is a sum/count/min/max (mergeable), -
    // ---- never an average. At 100 TB the rollup is the only thing -----
    // ---- dashboards touch; its size is bounded by buckets, not events. -
    "kq64_downsample" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("kq64-rollup")
        .toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(work)
      val hourly = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .multiply(lit(100)).cast("long")).cast("long")
            .as("sum_cents"),
          min(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .multiply(lit(100)).cast("long")).as("min_cents"),
          max(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .multiply(lit(100)).cast("long")).as("max_cents"))
      hourly.write.mode("overwrite").parquet(s"$work/rollup")
      graft.ingest.Tables.parquet(s, s"$work/rollup")
        .groupBy(to_date(col("bucket")).as("day"), col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("sum_cents")).as("sum_cents"),
          min(col("min_cents")).as("min_cents"),
          max(col("max_cents")).as("max_cents"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("sum_cents"),
          col("min_cents"), col("max_cents"))
        .orderBy(col("day"), col("event_type"))
    }),

    // ---- heartbeat GAP detection (the ops-monitoring dual of q25's ----
    // ---- sessionize): per user, every silence longer than 12 h --------
    // ---- between consecutive events — ONE lag window per user key, ----
    // ---- exact integer microsecond gaps, top-50 by length. The --------
    // ---- open-ended tail (silence still running at data end) is a -----
    // ---- live-alert concern (kq49's timer entry), not a batch row. ----
    "kq68_gap_detection" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("key"))
        .orderBy(col("timestamp"), col("offset"))
      Pipeline.envelopeFlat(s, dir)
        .select(col("key"), col("timestamp"), col("offset"))
        .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
        .withColumn("gap_us",
          unix_micros(col("timestamp")) - unix_micros(col("prev_ts")))
        .where(col("gap_us") > 43200000000L) // 12 h
        .select(col("key"), col("prev_ts").as("gap_start"),
          col("timestamp").as("gap_end"), col("gap_us"))
        .orderBy(col("gap_us").desc, col("key"), col("gap_start"))
        .limit(50)
    }),

    // ---- ES string_stats aggregation (+ its entropy metric): length ---
    // ---- stats of the props payload per event_type, and the Shannon ---
    // ---- entropy of the CHARACTER distribution in exact nano-nats: ----
    // ---- H = ln N − (Σ k·ln k)/N with every ln frozen to -------------
    // ---- ⌊ln(x)·1e9⌋ and a positive integer floor-division, so the ----
    // ---- whole metric is BIGINT arithmetic (x105's freeze). Chars -----
    // ---- explode via sequence+substring — one map-side explode, two ---
    // ---- hash aggregations; no window, no driver state. ---------------
    "kq69_string_stats" -> ((s, dir) => {
      val base = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull && col("props").isNotNull &&
          length(col("props")) >= 1)
        .select(col("event_type"), col("props"))
      val lens = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_values"),
          min(length(col("props")).cast("long")).as("min_len"),
          max(length(col("props")).cast("long")).as("max_len"),
          sum(length(col("props")).cast("long")).as("total_chars"))
      val ent = base
        .withColumn("i", explode(sequence(lit(1), length(col("props")))))
        .select(col("event_type"), expr("substring(props, i, 1)").as("ch"))
        .groupBy(col("event_type"), col("ch"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("uniq_chars"),
          sum(col("k") *
            floor(log(col("k").cast("double")) * lit(1.0e9)).cast("long"))
            .as("klnk"))
      lens.join(ent, "event_type")
        .select(col("event_type"), col("n_values"), col("min_len"),
          col("max_len"), col("total_chars"), col("uniq_chars"),
          (floor(log(col("total_chars").cast("double")) * lit(1.0e9))
            .cast("long") - expr("klnk div total_chars")).as("entropy_nano"))
        .orderBy(col("event_type"))
    }),

    // ---- ES t_test aggregation (Welch, unpaired): is the daily mean ---
    // ---- purchase value drifting from the click mean? Values freeze ---
    // ---- to integer cents (kq52's recipe), every moment is an exact ---
    // ---- integer (n·sxx − sx² etc.), and t is derived from those ------
    // ---- integers with the IDENTICAL op sequence in both engines ------
    // ---- (the ±1-ulp corr precedent) — the cents scale cancels --------
    // ---- algebraically between numerator and denominator. ONE --------
    // ---- conditional-aggregation pass per day; no self-join. ----------
    "kq70_t_test" -> ((s, dir) => {
      val xc = (col("value").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")
      def side(t: String, c: org.apache.spark.sql.Column) =
        when(col("event_type") === t, c)
      val g = Pipeline.envelopeFlat(s, dir)
        .where(col("value").isNotNull &&
          col("event_type").isin("click", "purchase"))
        .select(date_trunc("day", col("timestamp")).as("day"),
          col("event_type"), xc.as("xc"))
        .groupBy(col("day"))
        .agg(
          count(side("click", lit(1))).as("n1"),
          sum(side("click", col("xc"))).as("sx1"),
          sum(side("click", (col("xc") * col("xc")).cast("decimal(38,0)")))
            .as("sxx1"),
          count(side("purchase", lit(1))).as("n2"),
          sum(side("purchase", col("xc"))).as("sx2"),
          sum(side("purchase", (col("xc") * col("xc")).cast("decimal(38,0)")))
            .as("sxx2"))
      val n1d = col("n1").cast("decimal(38,0)")
      val n2d = col("n2").cast("decimal(38,0)")
      g.select(col("day"), col("n1"), col("n2"),
          (col("sx1").cast("decimal(38,0)") * col("n2") -
            col("sx2").cast("decimal(38,0)") * col("n1")).cast("long")
            .as("diff_num"),
          (n1d * col("sxx1") - col("sx1").cast("decimal(38,0)") * col("sx1"))
            .cast("long").as("var1_num"),
          (n2d * col("sxx2") - col("sx2").cast("decimal(38,0)") * col("sx2"))
            .cast("long").as("var2_num"))
        .withColumn("t_welch",
          when(col("n1") > 1 && col("n2") > 1 &&
              (col("var1_num") > 0 || col("var2_num") > 0),
            col("diff_num").cast("double") / (col("n1") * col("n2")) /
              sqrt(col("var1_num").cast("double") /
                     (col("n1") * col("n1") * (col("n1") - 1)) +
                   col("var2_num").cast("double") /
                     (col("n2") * col("n2") * (col("n2") - 1)))))
        .orderBy(col("day"))
    }),

    // ---- ES median_absolute_deviation: the robust dispersion metric, --
    // ---- exact — LOWER-median order statistics (rank ⌈n/2⌉, no --------
    // ---- interpolation arithmetic, so the emitted values are INPUT ----
    // ---- doubles, bit-identical across engines), two bounded ----------
    // ---- windows partitioned by the group key — never a global sort. --
    "kq71_mad" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byType = Window.partitionBy(col("event_type"))
      val wv = byType.orderBy(col("value"))
      val base = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val med = base
        .withColumn("rn", row_number().over(wv))
        .withColumn("n", count(lit(1)).over(byType))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("n"), col("value").as("median"))
      val wd = Window.partitionBy(col("event_type")).orderBy(col("dev"))
      base.join(med, "event_type")
        .withColumn("dev", abs(col("value") - col("median")))
        .withColumn("rd", row_number().over(wd))
        .where(col("rd") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("n"), col("median"),
          col("dev").as("mad"))
        .orderBy(col("event_type"))
    }),

    // ---- Prometheus-style COUNTER RATE with reset detection (PromQL ---
    // ---- increase()): each key's running cents total wraps at 2e5 -----
    // ---- (the planted counter resets); per consecutive sample pair ----
    // ---- the increase is cur−prev, or cur after a reset (counter ------
    // ---- restarted from 0), summed per hour with the reset count ------
    // ---- next to it. Two windows on the SAME key partitioning (one ----
    // ---- shuffle), exact integer cents end to end. --------------------
    "kq75_counter_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wk = Window.partitionBy(col("key"))
        .orderBy(col("timestamp"), col("offset"))
      val cents = when(col("value").isNotNull,
        (col("value").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("long")).otherwise(0L)
      Pipeline.envelopeFlat(s, dir)
        .withColumn("counter",
          sum(cents).over(wk.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)) % 200000L)
        .withColumn("prev", lag(col("counter"), 1).over(wk))
        .withColumn("delta",
          when(col("prev").isNull, lit(0L))
            .when(col("counter") >= col("prev"),
              col("counter") - col("prev"))
            .otherwise(col("counter")))
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n_samples"),
          sum(col("delta")).as("increase_cents"),
          sum(when(col("counter") < col("prev"), 1L).otherwise(0L))
            .as("n_resets"))
        .orderBy(col("bucket"))
    }),

    // ---- PromQL histogram_quantile(): le-bucketed cumulative ----------
    // ---- histograms per (event_type, day), then the φ-quantile --------
    // ---- read-off — lowest bucket whose cumulative count reaches ------
    // ---- φ·n, linear interpolation INSIDE the bucket carried in -------
    // ---- exact integer micro-cents (the chosen-bucket condition -------
    // ---- keeps the numerator positive, so Spark div == DuckDB //); ----
    // ---- the +Inf bucket clamps to the highest finite bound, the ------
    // ---- PromQL convention. One shuffle on the group key; the ---------
    // ---- cumulative window runs over ≤ 6 bucket rows per group. -------
    "kq76_histogram_quantile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val inf = 99999L
      val cents = (col("value").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")
      val le = when(cents <= 1000L, 1000L).when(cents <= 2500L, 2500L)
        .when(cents <= 5000L, 5000L).when(cents <= 10000L, 10000L)
        .when(cents <= 20000L, 20000L).otherwise(lit(inf))
      val byG = Window.partitionBy(col("event_type"), col("day"))
      val counts = Pipeline.envelopeFlat(s, dir)
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"),
          date_trunc("day", col("timestamp")).as("day"), le.as("le"))
        .groupBy(col("event_type"), col("day"), col("le"))
        .agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("cum", sum(col("cnt")).over(byG.orderBy(col("le"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("lo",
          coalesce(lag(col("le"), 1).over(byG.orderBy(col("le"))), lit(0L)))
        .withColumn("n", sum(col("cnt")).over(byG))
        .withColumn("phi", explode(array(lit(50), lit(90), lit(99))))
        .where(col("cum") * 100 >= col("phi") * col("n") &&
          (col("cum") - col("cnt")) * 100 < col("phi") * col("n"))
        .select(col("event_type"), col("day"), col("phi"),
          col("n").as("n_samples"),
          when(col("le") === inf, lit(20000L * 1000000L))
            .otherwise(expr("lo * 1000000 + ((le - lo) * " +
              "(phi * n - (cum - cnt) * 100) * 1000000) div (100 * cnt)"))
            .as("q_micro_cents"))
        .orderBy(col("event_type"), col("day"), col("phi"))
    }),

    // ---- ES boxplot aggregation, exact: quartiles as LOWER-median -----
    // ---- order statistics (kq71's recipe — every emitted value is -----
    // ---- an INPUT double), Tukey 1.5·IQR fences computed in exact -----
    // ---- integer HALF-CENTS (2·q1 − 3·IQR), whiskers = extreme --------
    // ---- in-fence values, outlier count beside them. Two shuffles -----
    // ---- on the same (event_type, day) key — rank window, then the ----
    // ---- fence re-aggregation. ----------------------------------------
    "kq77_boxplot" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byG = Window.partitionBy(col("event_type"), col("day"))
      val base = Pipeline.envelopeFlat(s, dir)
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"),
          date_trunc("day", col("timestamp")).as("day"), col("value"),
          (col("value").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)").cast("long").as("cents"))
      val quart = base
        .withColumn("rn", row_number().over(byG.orderBy(col("value"))))
        .withColumn("n", count(lit(1)).over(byG))
        .groupBy(col("event_type"), col("day"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(n + 3) div 4"), col("value")))
            .as("q1"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("value")))
            .as("median"),
          max(when(col("rn") === expr("(3 * n + 3) div 4"), col("value")))
            .as("q3"),
          max(when(col("rn") === expr("(n + 3) div 4"), col("cents")))
            .as("q1c"),
          max(when(col("rn") === expr("(3 * n + 3) div 4"), col("cents")))
            .as("q3c"))
      base.join(quart, Seq("event_type", "day"))
        .groupBy(col("event_type"), col("day"))
        .agg(max(col("n")).as("n_samples"),
          max(col("q1")).as("q1"), max(col("median")).as("median"),
          max(col("q3")).as("q3"),
          min(when(col("cents") * 2 >= expr("2 * q1c - 3 * (q3c - q1c)"),
            col("value"))).as("whisker_lo"),
          max(when(col("cents") * 2 <= expr("2 * q3c + 3 * (q3c - q1c)"),
            col("value"))).as("whisker_hi"),
          sum(when(col("cents") * 2 < expr("2 * q1c - 3 * (q3c - q1c)") ||
                   col("cents") * 2 > expr("2 * q3c + 3 * (q3c - q1c)"),
            1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ---- ES frequent_item_sets: market-basket mining over per-user ----
    // ---- event-type baskets. 1/2/3-itemsets at 10 % user support, -----
    // ---- candidates generated by ORDERED self-joins (et1 < et2 < ------
    // ---- et3 — each set counted once) with the Apriori prune: ---------
    // ---- baskets are restricted to frequent-1 items before any --------
    // ---- pairing, so candidate fanout is bounded by the (small) -------
    // ---- frequent vocabulary, not the raw one; the user count is a ----
    // ---- broadcast 1-row scalar. Support emitted exact (count + -------
    // ---- floor-div ppm). ----------------------------------------------
    "kq78_frequent_itemsets" -> ((s, dir) => {
      val baskets = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .select(col("key"), col("event_type").as("et")).distinct()
      val nU = baskets.select(countDistinct(col("key")).as("n_users"))
      val i1 = baskets.groupBy(col("et"))
        .agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nU))
        .where(col("support") * 10 >= col("n_users"))
      val fb = baskets.join(broadcast(i1.select(col("et"))), Seq("et"))
        .select(col("key"), col("et"))
      val p2 = fb.as("a").join(fb.as("b"),
          col("a.key") === col("b.key") && col("a.et") < col("b.et"))
        .groupBy(col("a.et").as("et1"), col("b.et").as("et2"))
        .agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nU))
        .where(col("support") * 10 >= col("n_users"))
      val p3 = fb.as("a").join(fb.as("b"),
          col("a.key") === col("b.key") && col("a.et") < col("b.et"))
        .join(fb.as("c"),
          col("a.key") === col("c.key") && col("b.et") < col("c.et"))
        .groupBy(col("a.et").as("et1"), col("b.et").as("et2"),
          col("c.et").as("et3"))
        .agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nU))
        .where(col("support") * 10 >= col("n_users"))
      i1.select(lit(1).as("set_size"), col("et").as("items"),
          col("support"), col("n_users"))
        .unionByName(p2.select(lit(2).as("set_size"),
          concat_ws("+", col("et1"), col("et2")).as("items"),
          col("support"), col("n_users")))
        .unionByName(p3.select(lit(3).as("set_size"),
          concat_ws("+", col("et1"), col("et2"), col("et3")).as("items"),
          col("support"), col("n_users")))
        .select(col("set_size"), col("items"), col("support"),
          expr("support * 1000000 div n_users").as("support_ppm"))
        .orderBy(col("set_size"), col("support").desc, col("items"))
    }),

    // ---- ES change_point detection (CUSUM): per event_type hourly -----
    // ---- count series, the change point is the bucket maximizing ------
    // ---- |cusum| — computed EXACTLY as |m·prefix_k − k·S| (the --------
    // ---- mean-centered cusum scaled by the bucket count m, so no ------
    // ---- division ever happens), earliest bucket on ties. Left/right --
    // ---- segment sums and the shift direction ride along as exact -----
    // ---- integers. One shuffle on event_type; the window runs over ----
    // ---- the series' own buckets. -------------------------------------
    "kq79_change_point" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byT = Window.partitionBy(col("event_type"))
      val wOrd = byT.orderBy(col("bucket"))
      val counts = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type"),
          date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("k", row_number().over(wOrd).cast("long"))
        .withColumn("p", sum(col("cnt")).over(wOrd.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
        .withColumn("m", count(lit(1)).over(byT))
        .withColumn("total", sum(col("cnt")).over(byT))
        .where(col("k") < col("m"))
        .withColumn("stat",
          abs(col("m") * col("p") - col("k") * col("total")))
        .withColumn("pick", row_number().over(
          byT.orderBy(col("stat").desc, col("bucket"))))
        .where(col("pick") === 1)
        .select(col("event_type"), col("bucket").as("cp_bucket"),
          col("k").as("k_before"), col("m").as("m_buckets"),
          col("stat").as("cusum_stat"), col("p").as("left_sum"),
          (col("total") - col("p")).as("right_sum"),
          signum((col("total") - col("p")) * col("k") -
            col("p") * (col("m") - col("k"))).cast("long")
            .as("direction"))
        .orderBy(col("event_type"))
    }),

    // ---- ES moving_percentiles (pipeline agg): trailing-7-bucket ------
    // ---- MEDIAN of the hourly count series per event_type — the -------
    // ---- lower-median order statistic of the window's own values ------
    // ---- (sorted window array, integer index), so every emitted -------
    // ---- figure is an input count: exact across engines with no -------
    // ---- interpolation arithmetic. The window list is bounded by ------
    // ---- the frame (7), map-side shape identical to kq51's ------------
    // ---- moving_fn. ----------------------------------------------------
    "kq80_moving_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(-6, Window.currentRow)
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type"),
          date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("win", sort_array(collect_list(col("cnt")).over(w)))
        .select(col("event_type"), col("bucket"), col("cnt"),
          size(col("win")).cast("long").as("win_n"),
          expr("element_at(win, CAST((size(win) + 1) div 2 AS INT))")
            .as("moving_median"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- ES variable_width_histogram: value-adaptive buckets per ------
    // ---- event_type — the 4 LARGEST GAPS between adjacent distinct ----
    // ---- cent values split the axis into up to 5 clusters (the --------
    // ---- deterministic re-expression of ES's streaming 1-D ------------
    // ---- clusterer; ties broken toward the smaller value). Two --------
    // ---- windows over the small distinct-value domain, then the -------
    // ---- events re-aggregate by (type, bucket) — the raw stream is ----
    // ---- touched exactly twice, both map-side-combinable. -------------
    "kq81_variable_width_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byT = Window.partitionBy(col("event_type"))
      val cents = (col("value").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")
      val vals = Pipeline.envelopeFlat(s, dir)
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), cents.as("cents"))
      val distinctVals = vals.distinct()
        .withColumn("gap",
          col("cents") - lag(col("cents"), 1).over(byT.orderBy(col("cents"))))
        .withColumn("grank", row_number().over(
          byT.orderBy(col("gap").desc_nulls_last, col("cents"))))
        .withColumn("boundary",
          when(col("gap").isNotNull && col("grank") <= 4, 1L).otherwise(0L))
        .withColumn("bucket", sum(col("boundary")).over(
          byT.orderBy(col("cents"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("event_type"), col("cents"), col("bucket"))
      vals.join(distinctVals, Seq("event_type", "cents"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n_events"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- ES geo_centroid + geo_bounds per geohash cell (Kibana's ------
    // ---- map markers and envelopes) — exact integer micro-degree ------
    // ---- centroids via sign-split truncating division. ----------------
    "kq82_geo_centroid" -> ((s, dir) =>
      graft.query.Geo.geoCentroidBounds(s, dir)),

    // ---- ES geo_line: per-user movement track — first-k points in ------
    // ---- (ts, event_id) order joined into a LINESTRING string; the -----
    // ---- per-track size bound is the bounded window top-k ---------------
    "kq99_geo_line" -> ((s, dir) => graft.query.Geo.geoLine(s, dir)),

    // ---- ES random_sampler aggregation (8.x): deterministic 1/8 -------
    // ---- hash-probability sampling with the scaled estimate NEXT ------
    // ---- TO the exact count, so the sampling error is part of the -----
    // ---- contract. At 100 TB this agg exists precisely so a dashboard -
    // ---- can read 1/p of the index; the md5 sampler makes the ---------
    // ---- "random" subset reproducible across engines and runs. --------
    "kq84_random_sampler" -> ((s, dir) => {
      val sampled =
        expr("conv(substring(md5(uid), 1, 8), 16, 10)").cast("long") % 8 === 0
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .withColumn("s", sampled)
        .groupBy(col("event_type"))
        .agg(sum(when(col("s"), 1L).otherwise(0L)).as("sampled_n"),
          (sum(when(col("s"), 1L).otherwise(0L)) * 8).as("est_n"),
          count(lit(1)).as("exact_n"))
        .orderBy(col("event_type"))
    }),

    // ---- LINEAR-INTERPOLATION gap fill (Kibana's fitting: 'linear', ---
    // ---- the step past kq17's zero-fill): per event_type, every -------
    // ---- missing hourly bucket inside the series' span gets -----------
    // ---- prev + (next−prev)·(i−pi)/(ni−pi), carried in exact ----------
    // ---- integer MICRO-counts with positive floor-divisions only ------
    // ---- (the sign split keeps Spark div == DuckDB //). The spine -----
    // ---- generates per group from its own min/max (sequence + ---------
    // ---- explode, map-side); neighbors come from two IGNORE-NULLS -----
    // ---- carry windows per group key — no self-join of the series -----
    // ---- against itself. ----------------------------------------------
    "kq72_interpolate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type"),
          date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"))
      val spine = counts.groupBy(col("event_type"))
        .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"),
            expr("interval 1 hour"))).as("bucket"))
      val wPrev = Window.partitionBy(col("event_type")).orderBy(col("hi"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("event_type")).orderBy(col("hi"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(counts, Seq("event_type", "bucket"), "left")
        .withColumn("hi", expr("unix_micros(bucket) div 3600000000"))
        .withColumn("pn", last(col("n"), ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(when(col("n").isNotNull, col("hi")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nn", first(col("n"), ignoreNulls = true).over(wNext))
        .withColumn("nh", first(when(col("n").isNotNull, col("hi")),
          ignoreNulls = true).over(wNext))
        .withColumn("interp_micro",
          when(col("n").isNotNull, col("n") * 1000000L)
            .otherwise(col("pn") * 1000000L +
              when(col("nn") >= col("pn"),
                expr("((nn - pn) * (hi - ph) * 1000000) div (nh - ph)"))
                .otherwise(
                  -expr("((pn - nn) * (hi - ph) * 1000000) div (nh - ph)"))))
        .withColumn("interpolated", col("n").isNull)
        .select(col("event_type"), col("bucket"), col("n"),
          col("interp_micro"), col("interpolated"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- ES diversified_sampler + terms: the "what's in a fair --------
    // ---- sample" aggregation — at most 2 hits per key (the diversity --
    // ---- cap, a bounded per-key window), then the top-100 by the ------
    // ---- Discover sort tuple (a top-k, never a global sort), then -----
    // ---- the terms agg over that sample. ------------------------------
    "kq73_diversified_sampler" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wk = Window.partitionBy(col("key"))
        .orderBy(col("timestamp").desc, col("offset").desc, col("uid"))
      Pipeline.envelopeFlat(s, dir)
        .withColumn("rk", row_number().over(wk))
        .where(col("rk") <= 2)
        .orderBy(col("timestamp").desc, col("offset").desc, col("uid"))
        .limit(100)
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ---- daily COHORT RETENTION (the product-analytics matrix every ---
    // ---- event store gets asked for): users cohort by their FIRST- ----
    // ---- SEEN day; for each offset k in 0..6 the cohort's active ------
    // ---- share on day c+k, as exact integer ppm. Two shuffles total: --
    // ---- the first-seen aggregate on user, then the (cohort, k) -------
    // ---- rollup of the distinct (user, day) activity — the activity ---
    // ---- join is user-keyed and co-partitioned with first-seen. -------
    "kq67_retention" -> ((s, dir) => {
      val env = Pipeline.envelopeFlat(s, dir)
        .select(col("key").as("user"),
          date_trunc("day", col("timestamp")).as("day"))
      val firstSeen = env.groupBy(col("user"))
        .agg(min(col("day")).as("cohort"))
      val activity = env.distinct()
      val joined = activity.join(firstSeen, "user")
        .withColumn("k", expr("datediff(day, cohort)").cast("int"))
        .where(col("k").between(0, 6))
      val cells = joined.groupBy(col("cohort"), col("k"))
        .agg(countDistinct(col("user")).as("n_active"))
      val sizes = firstSeen.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_users"))
      cells.join(sizes, "cohort")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
          col("n_users"), col("k"), col("n_active"),
          expr("n_active * 1000000 div n_users").as("retention_ppm"))
        .orderBy(col("cohort_day"), col("k"))
    }),

    // ---- ES terms_enum API (the index-backed autocomplete behind ------
    // ---- Kibana's field-value suggestions): distinct values of an -----
    // ---- analyzed field matching a case-insensitive prefix, first N ---
    // ---- in index order, with doc counts. One distinct pass over ------
    // ---- postings + a TakeOrdered top-N — never a global sort. --------
    "kq66_terms_enum" -> ((s, dir) => {
      val toks = graft.ingest.Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.AnalyzeTokens.analyze(col("text")))
            .as("term"))
        .where(col("term").startsWith("s"))
        .distinct()
      toks.groupBy(col("term")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("term")).limit(10)
    }),

    // ---- sliding-window UNIQUE USERS — EVAL entry (x83's split): ------
    // ---- exact distinct over sliding windows recounts every window, ---
    // ---- so this entry exists to GRADE the HLL estimate against the ---
    // ---- exact count (`exact_uniques` is the eval target, never a -----
    // ---- serving column). The serving path is kq102, whose plan -------
    // ---- never touches the 24x-expanded distinct-pairs join. ----------
    "kq65_sliding_uniques" -> ((s, dir) => {
      // ONE envelope pass: the distinct (bucket, key) pairs feed all
      // three legs (register max is duplicate-insensitive — h depends
      // only on key — so regs-from-pairs == regs-from-raw-rows; the
      // exact leg's countDistinct was already pair-valued). Previously
      // the envelope chain was derived three times (regs, buckets,
      // exact). pairs is corpus-reduced but not tiny, so DISK_ONLY per
      // the SKILL materialization rule, not localCheckpoint.
      val env = Pipeline.envelopeFlat(s, dir)
        .select(date_trunc("hour", col("timestamp")).as("bucket"),
          col("key"))
      val pairs = env.distinct()
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val regs = graft.ext.Sketches.hourlyRegisters(pairs)
      val buckets = pairs.select(col("bucket")).distinct()
        .withColumnRenamed("bucket", "b").localCheckpoint()
      // the exact leg shares the trailing-24 h explode + equi-join
      val exact = graft.ext.Sketches.trailingDay(pairs, buckets, "key")
        .groupBy(col("b")).agg(countDistinct(col("key")).as("exact_uniques"))
      graft.ext.Sketches.withEstimate(
          graft.ext.Sketches.trailingDaySketch(regs, buckets).join(exact, "b"))
        .select(col("b").as("bucket"), col("exact_uniques"),
          col("v_zero"), col("s_scaled"), col("hll_est"))
        .orderBy(col("bucket"))
    }),

    // ---- sliding-window UNIQUE USERS — SERVING entry (round-11 -------
    // ---- verdict): the dashboard path. x94's 64-register HLL built ----
    // ---- ONCE per hourly bucket from events (one pass, map-side -------
    // ---- combinable), then merged by register-max across the trailing -
    // ---- 24 h via a range join of the TINY register table (64 rows ----
    // ---- per bucket) against the broadcast bucket list. Events are ----
    // ---- scanned exactly once; no distinct, no per-window re-count, ---
    // ---- no exact leg anywhere in the plan — at 100 TB the post-scan --
    // ---- work is O(buckets x 64), independent of cardinality. ---------
    "kq102_sliding_uniques_serve" -> ((s, dir) => {
      val env = Pipeline.envelopeFlat(s, dir)
        .select(date_trunc("hour", col("timestamp")).as("bucket"),
          col("key"))
      graft.ext.Sketches.slidingUniques(
        graft.ext.Sketches.hourlyRegisters(env).localCheckpoint())
    }),

    // ---- kq102's STREAMING half (round-12 verdict item 7): the same ---
    // ---- per-bucket HLL registers accrued INCREMENTALLY via -----------
    // ---- transformWithState map state (point-updates, watermark -------
    // ---- eviction at bucket close), merged by the identical trailing --
    // ---- 24 h register-max fold. Update-mode emission fixpoint == -----
    // ---- batch registers, so the oracle is kq102's, unchanged. --------
    "kq105_sliding_uniques_stream" -> ((s, dir) =>
      graft.streaming.StreamPipeline.slidingUniquesStream(
        s, Pipeline.envelopeFlat(s, dir))),

    // ---- STREAMING percolator (the ES Watcher shape): kq55's stored ---
    // ---- KQL registry matched continuously — map-only verdict array ---
    // ---- per micro-batch, kq97's greedy per-query alert throttle ------
    // ---- across batches (state = ONE chain-tail timestamp per stored --
    // ---- query). Streamed == the batch match-then-chain, which is the -
    // ---- oracle. -------------------------------------------------------
    "kq106_percolate_stream" -> ((s, dir) =>
      graft.streaming.StreamPipeline.percolateStream(s,
        Pipeline.envelopeFlat(s, dir),
        graft.streaming.StreamPipeline.storedQueries)),

    // ---- the COMPOSED streaming pipeline (x60's batch chain as ONE ----
    // ---- continuous query): records → SMT enrichment → x70 quality ----
    // ---- gate → kq106 percolation → throttle + kq53 exactly-once ------
    // ---- batchId-keyed sink; a replayed commit is provably a no-op ----
    "kq112_stream_pipeline" -> ((s, dir) =>
      graft.streaming.StreamPipeline.composedPipeline(s, dir)),

    // ---- seasonal anomaly flags on the hourly histogram: per ----------
    // ---- hour-of-day profile, |z| > 3 decided by EXACT INTEGER --------
    // ---- cross-multiplication (devsq > 9*var_num — no division, no ----
    // ---- sqrt, no doubles): the deterministic core of the "unusual ----
    // ---- count for this hour" alert an ES ML job fits statistically. --
    // ---- BIGINT holds every product at fixture magnitudes; at 1e9 -----
    // ---- rows/hour the same comparison runs in DECIMAL(38,0) (the -----
    // ---- kq52 rails). Profile + join live on the bounded bucket -------
    // ---- frame, never raw events. -------------------------------------
    "kq62_anomaly" -> ((s, dir) => {
      val hourly = Pipeline.envelopeFlat(s, dir)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("hh", hour(col("bucket")))
      val prof = hourly.groupBy(col("hh"))
        .agg(count(lit(1)).as("cnt"), sum(col("n")).as("s"),
          sum(col("n") * col("n")).as("ss"))
      hourly.join(prof, "hh")
        .withColumn("dev", col("n") * col("cnt") - col("s"))
        .withColumn("var_num", col("cnt") * col("ss") - col("s") * col("s"))
        .withColumn("is_anomaly",
          col("dev") * col("dev") > lit(9L) * col("var_num"))
        .select(col("bucket"), col("hh"), col("n"), col("cnt"), col("s"),
          col("dev"), col("var_num"), col("is_anomaly"))
        .orderBy(col("bucket"))
    }),

    // ---- ES function_score: the query context (clicks worth >= 10) ----
    // ---- re-ranked by field_value_factor x a LINEAR RECENCY DECAY -----
    // ---- anchored at the corpus max event time (origin = "now", the ---
    // ---- kq35 one-row scalar-attach idiom — no collect). decay is -----
    // ---- exact integer ppm (clamped-positive numerator, floor div), ---
    // ---- score = cents x decay_ppm — all BIGINT, top-20 is a top-k. ---
    "kq63_function_score" -> ((s, dir) => {
      val env = Pipeline.envelopeFlat(s, dir)
      val origin = env.agg(max(col("timestamp")).as("origin"))
      val scaleUs = 604800000000L // 7 days
      env.where(col("event_type") === "click" && col("value") >= 10)
        .crossJoin(broadcast(origin))
        .withColumn("age_us",
          unix_micros(col("origin")) - unix_micros(col("timestamp")))
        .withColumn("decay_ppm", expr(
          s"(greatest($scaleUs - age_us, 0L) * 1000000) div $scaleUs"))
        .withColumn("cents",
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .multiply(lit(100)).cast("long"))
        .withColumn("score", col("cents") * col("decay_ppm"))
        .select(col("uid"), col("age_us"), col("cents"), col("decay_ppm"),
          col("score"))
        .orderBy(col("score").desc, col("uid"))
        .limit(20)
    }),

    // ---- ES ip_prefix: bucket source addresses by /16 network — the ---
    // ---- network-telemetry agg (Kibana's "group by subnet"). IPv4s ----
    // ---- derive from the pinned md5-32 closed form over user_id (the --
    // ---- kq59 derived-fixture discipline); the prefix key is pure -----
    // ---- integer shift/mask math, so every bucket is exact and --------
    // ---- cross-engine. One map-side projection + an agg into the ------
    // ---- bounded /16 domain; n_users is the per-bucket distinct. ------
    "kq108_ip_prefix" -> ((s, dir) => {
      graft.ingest.Tables.load(s, dir, "events")
        .withColumn("ip_u32", expr("CAST(conv(substring(md5(concat(" +
          "'ip:', CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("prefix16", concat(
          shiftright(col("ip_u32"), 24).cast("string"), lit("."),
          (shiftright(col("ip_u32"), 16) % 256).cast("string"),
          lit(".0.0/16")))
        .groupBy(col("prefix16"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("ip_u32")).as("ip_min"), max(col("ip_u32")).as("ip_max"))
        .orderBy(col("n_events").desc, col("prefix16"))
        .limit(20)
    }),

    // ---- Kibana Maps / ES geo surface: geohash_grid cell densities -----
    // ---- (first-principles integer bit-interleave geohash) and ---------
    // ---- geo_bounding_box + geo_distance nearest-k over md5-derived ----
    // ---- micro-degree points — all-integer, trig-free ------------------
    "kq59_geo_grid" -> ((s, dir) => graft.query.Geo.geoGrid(s, dir)),
    "kq60_geo_distance" -> ((s, dir) => graft.query.Geo.geoDistance(s, dir)),
    // kq107: geotile_grid — slippy z/x/y tiles; Mercator y-boundaries are
    // driver-computed literals shared by both engines (trig-free rows)
    "kq107_geotile_grid" -> ((s, dir) => graft.query.Geo.geotileGrid(s, dir)),
    // kq110: geo_shape polygon filter — even-odd ray casting over the
    // frozen CONCAVE polygon, exact BIGINT cross-products (edge-sign
    // folded at generation time), map-only predicate in the scan
    "kq110_geo_polygon" -> ((s, dir) => graft.query.Geo.geoPolygon(s, dir)),
    // kq113: geo_shape MULTIPOLYGON with a hole ring + a disjoint second
    // outer — even-odd over the union of rings (hole support is free:
    // inside-the-hole crosses two rings, even total -> outside)
    "kq113_geo_multipolygon" ->
      ((s, dir) => graft.query.Geo.geoMultiPolygon(s, dir)),

    // ---- ES top_metrics: the metric VALUE AT the latest sort tuple ----
    // ---- per bucket (not an aggregate of it) — "what was the last -----
    // ---- reading" per event_type. A per-key top-1 window on the -------
    // ---- Discover sort (timestamp DESC, offset DESC): the rank --------
    // ---- filter is a WindowGroupLimit, so each group is pruned to -----
    // ---- one row BEFORE the sort — never a global order-by. -----------
    "kq85_top_metrics" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("timestamp").desc, col("offset").desc)
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("event_type"), col("timestamp").as("last_ts"),
          (col("value").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)").cast("long").as("last_cents"))
        .orderBy(col("event_type"))
    }),

    // ---- ES multi_terms: compound-key terms agg — top buckets of ------
    // ---- the (event_type, key) PAIR ranked by doc count (unlike -------
    // ---- kq33's composite agg, which pages the same pairs in key ------
    // ---- order). One hash aggregation + TakeOrderedAndProject; the ----
    // ---- deterministic tie-break is the compound key itself. ----------
    "kq86_multi_terms" -> ((s, dir) =>
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type"), col("key").as("ukey"))
        .agg(count(lit(1)).as("doc_count"),
          sum((col("value").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)").cast("long")).as("sum_cents"))
        .orderBy(col("doc_count").desc, col("event_type"), col("ukey"))
        .limit(10)),

    // ---- ES cumulative_cardinality pipeline agg: running distinct -----
    // ---- users per day. The scalable re-expression is the FIRST-SEEN --
    // ---- trick: distinct-so-far(day) == sum of users whose min(day) ---
    // ---- is <= day, so one per-user aggregate + a prefix sum over -----
    // ---- the bounded day domain replaces any per-bucket distinct ------
    // ---- union — the exact shape a 100 TB retention dashboard needs. --
    // ---- The unpartitioned window reads <= 31 post-agg rows. ----------
    "kq87_cumulative_cardinality" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val env = Pipeline.envelopeFlat(s, dir)
      val newUsers = env.groupBy(col("key"))
        .agg(min(date_trunc("day", col("timestamp"))).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("new_users"))
      val days = env
        .select(date_trunc("day", col("timestamp")).as("bucket")).distinct()
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(newUsers, Seq("bucket"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .orderBy(col("bucket"))
    }),

    // ---- ES serial_diff pipeline agg: seasonal differencing of the ----
    // ---- hourly count series at period 24 (day-over-day deltas), ------
    // ---- plus the second-order difference (the "acceleration" TSVB ----
    // ---- panel). kq27 is the lag-1 pair; this is the PERIOD-k form. ---
    // ---- Integer counts through integer lags — drift-free; the --------
    // ---- unpartitioned window reads the <= 744-row post-agg series. ---
    "kq88_serial_diff" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("bucket"))
      Pipeline.envelopeFlat(s, dir)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("diff24", col("n") - lag(col("n"), 24).over(w))
        .withColumn("accel",
          col("n") - lit(2L) * lag(col("n"), 1).over(w)
            + lag(col("n"), 2).over(w))
        .orderBy(col("bucket"))
    }),

    // ---- ES scripted_metric agg, re-expressed declaratively: MAX ------
    // ---- DRAWDOWN of the value series per event_type (largest drop ----
    // ---- from a running peak, in exact integer cents) — the classic ---
    // ---- "needs a script" metric because it depends on arrival --------
    // ---- ORDER, not the value multiset. One shuffle on the group ------
    // ---- key; the running peak is a linear per-key window — state -----
    // ---- is one long per key, never the series. -----------------------
    "kq89_scripted_metric" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("timestamp"), col("offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .withColumn("cents", (col("value").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("long"))
        .withColumn("peak", max(col("cents")).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          max(col("peak") - col("cents")).as("max_drawdown_cents"))
        .orderBy(col("event_type"))
    }),

    // ---- ES second-order pipeline aggs in one request: ----------------
    // ---- bucket_selector (drop hourly buckets under half the peak ----
    // ---- count — a RELATIVE gate, so it stays selective at every -----
    // ---- SF), normalize (count as ppm of the peak), and bucket_sort --
    // ---- with from/size pagination (skip 2, take 10 by revenue). -----
    // ---- The peak is a broadcast 1-row scalar (kq35's idiom); the ----
    // ---- rank window reads the <= 744-row post-agg series. kq37 is ---
    // ---- the bucket_script sibling; this is the selector/sort pair. --
    "kq90_bucket_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)").cast("long")).as("sum_cents"))
      val mx = hourly.agg(max(col("n")).as("max_n"))
      hourly.crossJoin(broadcast(mx))
        .where(col("n") * 2 >= col("max_n"))
        .withColumn("n_ppm", expr("(n * 1000000) div max_n"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("sum_cents").desc, col("bucket"))))
        .where(col("rank") > 2 && col("rank") <= 12)
        .select(col("bucket"), col("n"), col("sum_cents"), col("n_ppm"),
          col("rank"))
        .orderBy(col("rank"))
    }),

    // ---- ES rate agg inside a date_histogram: counts and revenue ------
    // ---- per DAY bucket re-expressed per WEEK (ES rescales by ---------
    // ---- unit/bucket = 7; an exact integer multiply, so the oracle ----
    // ---- hashes bit-for-bit and the sign of the revenue never meets ---
    // ---- a floor-division). Grouped by event_type too — the shuffle ---
    // ---- key is (type, day), partial-aggregated map-side; the post- ---
    // ---- agg series is |types| x |days|, tiny at any corpus scale. ----
    "kq91_rate" -> ((s, dir) => {
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type"),
          date_trunc("day", col("timestamp")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)").cast("long")).as("cents"))
        .withColumn("n_per_week", col("n") * 7)
        .withColumn("cents_per_week", col("cents") * 7)
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- ES boxplot agg: five-number summary + IQR per event_type -----
    // ---- on exact integer cents. percentile at the quarter fractions --
    // ---- interpolates to exact quarter-cents (q51's determinism -------
    // ---- argument: frac in {1/4,1/2,3/4} x integer data points is -----
    // ---- formula-order-independent and FP-representable), so the ------
    // ---- doubles — and the iqr subtraction — hash across engines. -----
    // ---- One shuffle on event_type; Spark's exact percentile sorts ----
    // ---- per group, the scale path swaps in approx_percentile. --------
    "kq92_boxplot" -> ((s, dir) => {
      Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .withColumn("cents", (col("value").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"),
          expr("percentile(cents, 0.25)").as("p25_cents"),
          expr("percentile(cents, 0.5)").as("p50_cents"),
          expr("percentile(cents, 0.75)").as("p75_cents"),
          max(col("cents")).as("max_cents"))
        .withColumn("iqr_cents", col("p75_cents") - col("p25_cents"))
        .orderBy(col("event_type"))
    }),

    // ---- ES rescore: two-phase ranking — a CHEAP first-pass score ------
    // ---- (single-term count) selects the top-50, then only the --------
    // ---- window_size=20 head pays the expensive secondary scorer ------
    // ---- (overlapping phrase count); the window re-sorts by -----------
    // ---- query_weight*fp + rescore_weight*sec and rows below the ------
    // ---- window keep their first-pass order — exactly ES's contract. --
    // ---- At 100 TB the first pass is the only corpus scan; the --------
    // ---- rescorer touches 20 rows. All-integer scores, doc_id ---------
    // ---- tie-breaks; the sequence() upper bound is guarded (a 1-token -
    // ---- doc would make sequence(1,0) DESCEND and crash under ANSI). --
    "kq93_rescore" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      val fp = size(filter(toks, t => t === "merge")).cast("long")
      // CASE is the guard (lazily evaluated): a 1-token doc would make
      // sequence(1, 0) DESCEND and index out of bounds under ANSI — the
      // x56 trap. Inside the branch i runs 1..size-1, so toks[i-1] and
      // toks[i] (0-based) are always in bounds.
      val sec = expr(
        """CASE WHEN size(split(text, ' ')) >= 2 THEN
          |  aggregate(sequence(1, size(split(text, ' ')) - 1), 0L,
          |    (acc, i) -> acc + IF(split(text, ' ')[i - 1] = 'merge' AND
          |                         split(text, ' ')[i] = 'slow', 1L, 0L))
          |ELSE 0L END""".stripMargin)
      // distributed top-k (TakeOrderedAndProject), NOT a global window
      // over the corpus — the window below ranks only the 50 survivors
      val first50 = graft.ingest.Tables.load(s, dir, "documents")
        .select(col("doc_id"), fp.as("fp"), sec.as("sec0"))
        .orderBy(col("fp").desc, col("doc_id")).limit(50)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("fp").desc, col("doc_id"))))
      first50
        .withColumn("sec", when(col("rn") <= 20, col("sec0")))
        .withColumn("combined",
          when(col("rn") <= 20, col("fp") + lit(2L) * col("sec0")))
        .withColumn("final_rank", row_number().over(Window.orderBy(
          when(col("rn") <= 20, 0).otherwise(1),
          when(col("rn") <= 20, col("combined")).otherwise(col("fp")).desc,
          col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("fp"), col("sec"), col("combined"),
          col("final_rank"))
        .orderBy(col("final_rank"))
    }),

    // ---- TIERED ROLLUP QUERY (hot raw + cold downsample), the TSDB -----
    // ---- storage split ES/Prometheus ship: buckets older than the ------
    // ---- boundary-ALIGNED cutoff (max ts floored to the 6 h grid -------
    // ---- minus 28 windows) are answered from the STORED rollup ---------
    // ---- (materialized once — the kq64 downsample, localCheckpoint -----
    // ---- standing in for the rollup table); only the hot week ----------
    // ---- touches raw rows. Alignment guarantees no bucket straddles ----
    // ---- tiers, so the union is the exact full-range series — the ------
    // ---- audit a rollup migration must pass. At 100 TB the cold read ---
    // ---- is |buckets| rows instead of raw events: the whole point. -----
    "kq100_tiered_rollup" -> ((s, dir) => {
      val env = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
      val cut = env.agg(expr(
        "(unix_micros(max(timestamp)) div 21600000000) * 21600000000" +
          " - 28 * 21600000000").as("cut_us")) // 1 row
      val bucketed = env.crossJoin(broadcast(cut))
        .withColumn("bucket_us", expr(
          "(unix_micros(timestamp) div 21600000000) * 21600000000"))
        .withColumn("cents", (col("value").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("long"))
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("bucket_us"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val hot = agg(bucketed.where(col("bucket_us") >= col("cut_us")))
        .withColumn("tier", lit("raw"))
      val rollup = agg(bucketed.where(col("bucket_us") < col("cut_us")))
        .localCheckpoint() // the stored rollup table
        .withColumn("tier", lit("rollup"))
      hot.unionByName(rollup)
        .select(col("bucket_us"), col("event_type"), col("n"),
          col("cents"), col("tier"))
        .orderBy(col("bucket_us"), col("event_type"))
    }),

    // ---- POINT-IN-TIME state (offset time travel): the compacted- ------
    // ---- changelog replay discipline — latest state per key AS OF an ---
    // ---- offset cutoff (here max offset div 2, data-derived and --------
    // ---- deterministic), joined to the CURRENT latest to flag which ----
    // ---- keys changed after the cutoff. Same bounded per-key window ----
    // ---- as kq6 run over the offset-filtered replay; the filter --------
    // ---- pushes to the scan so time travel reads only the prefix. ------
    "kq98_pit_state" -> ((s, dir) => {
      val env = Pipeline.envelope(s, dir)
      val cutoff = env.agg(expr("max(offset) div 2").as("cut")) // 1 row
      val pit = graft.query.LogQueries.latestStatePerKey(
          env.crossJoin(broadcast(cutoff)).where(col("offset") <= col("cut")))
        .select(col("key"), col("topic"), col("offset").as("pit_offset"),
          col("timestamp").as("pit_ts"))
      val cur = graft.query.LogQueries.latestStatePerKey(env)
        .select(col("key"), col("topic"), col("offset").as("cur_offset"))
      pit.join(cur, Seq("key", "topic"))
        .withColumn("changed_after",
          when(col("cur_offset") > col("pit_offset"), 1L).otherwise(0L))
        .select(col("key"), col("topic"), col("pit_offset"), col("pit_ts"),
          col("cur_offset"), col("changed_after"))
        .orderBy(col("topic"), col("key"))
    }),

    // ---- ES Watcher THROTTLE_PERIOD: an alert stream (error events ----
    // ---- per user) where, after an alert FIRES, further alerts for ----
    // ---- the same key are suppressed until `period` has passed SINCE --
    // ---- THE LAST FIRED one — the greedy rule every alerting system ---
    // ---- ships. Inherently SEQUENTIAL per key (each decision depends --
    // ---- on the previous EMISSION, not the previous row — no window ---
    // ---- frame expresses it), so it runs as flatMapSortedGroups: ------
    // ---- parallel across keys, one O(1)-state pass within a key — -----
    // ---- the documented last-resort case, used because the semantics --
    // ---- genuinely require it. The DuckDB oracle replays the same -----
    // ---- fold with list_reduce. ------------------------------------------
    "kq97_alert_throttle" -> ((s, dir) => {
      import s.implicits._
      val periodUs = 21600000000L // 6 h
      graft.ingest.Tables.load(s, dir, "events")
        .where(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("us")) { (uid, it) =>
          var last = Long.MinValue
          it.flatMap { case (_, us) =>
            if (last == Long.MinValue || us >= last + periodUs) {
              last = us
              Some((uid, us))
            } else None
          }
        }
        .toDF("user_id", "emitted_us")
        .orderBy(col("user_id"), col("emitted_us"))
    }),

    // ---- ES terms-agg DISTRIBUTED ERROR BOUNDS: each shard (the -------
    // ---- envelope's Kafka partition) reports only its local top-2 -----
    // ---- types (shard_size), the coordinator sums what was reported, --
    // ---- and a term MISSING from a shard's report could hide up to ----
    // ---- that shard's LAST reported count there — summed, that is -----
    // ---- ES's doc_count_error_upper_bound. The exact global count -----
    // ---- (which a single-pass distributed top-N cannot know) is -------
    // ---- computed alongside as the audit: merged <= exact <= merged ---
    // ---- + err for every candidate. This is WHY approximate terms -----
    // ---- aggs ship error bounds at scale: the merge is one tiny -------
    // ---- all-reported union, never a global re-count. -------------------
    "kq96_terms_shard_error" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val env = Pipeline.envelopeFlat(s, dir)
        .where(col("event_type").isNotNull)
        .select(col("partition").as("shard"), col("event_type"))
      val perShard = env.groupBy(col("shard"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("n").desc, col("event_type"))
      val reported = perShard
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 2)
        .localCheckpoint()
      val lastPer = reported.groupBy(col("shard"))
        .agg(min(col("n")).as("last_n"))
      val merged = reported.groupBy(col("event_type"))
        .agg(sum(col("n")).as("merged_n"))
      val err = merged.select(col("event_type")).crossJoin(lastPer)
        .join(reported.select(col("shard"), col("event_type"),
          lit(1L).as("rep")), Seq("shard", "event_type"), "left")
        .where(col("rep").isNull)
        .groupBy(col("event_type"))
        .agg(sum(col("last_n")).as("err_ub"))
      val exact = env.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_n"))
      merged.join(err, Seq("event_type"), "left")
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("merged_n"),
          coalesce(col("err_ub"), lit(0L)).as("err_ub"), col("exact_n"),
          when(col("exact_n") >= col("merged_n") &&
            col("exact_n") <= col("merged_n") +
              coalesce(col("err_ub"), lit(0L)), 1L).otherwise(0L)
            .as("bounded"))
        .orderBy(col("merged_n").desc, col("event_type"))
    }),

    // ---- EQL "sequence by user [signup][click][purchase] until --------
    // ---- [error]": the q31 greedy earliest-completion MIN cascade, ----
    // ---- then the UNTIL rule — an abort event strictly inside ---------
    // ---- (t1, t3) kills the in-flight match (Elastic EQL's until ------
    // ---- semantics). The abort check is one range semi-join against ---
    // ---- the tiny per-user error-time table — no per-user sorting, ----
    // ---- no window state; every leg is a user-keyed partial-agg -------
    // ---- shuffle, the q31 scale shape. ---------------------------------
    "kq95_eql_until" -> ((s, dir) => {
      val ev = graft.ingest.Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val s1 = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val s2 = ev.where(col("event_type") === "click").join(s1, "user_id")
        .where(col("us") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      val s3 = ev.where(col("event_type") === "purchase").join(s2, "user_id")
        .where(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      val chains = s1.join(s2, "user_id").join(s3, "user_id")
      val errs = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("us").as("e_us"))
      val aborted = chains.join(errs, Seq("user_id"))
        .where(col("e_us") > col("t1") && col("e_us") < col("t3"))
        .select(col("user_id")).distinct()
        .withColumn("ab", lit(1L))
      chains.join(aborted, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          coalesce(col("ab"), lit(0L)).as("aborted"))
        .orderBy(col("user_id"))
    }),

    // ---- the spark.sql text surface over a registered changelog view -----
    "kq9_sql_surface" -> ((s, dir) => {
      Pipeline.envelopeFlat(s, dir).createOrReplaceTempView("changelog")
      s.sql("""SELECT event_type, count(*) AS n,
              |       count(DISTINCT key) AS n_keys,
              |       min(offset) AS first_offset, max(offset) AS last_offset
              |FROM changelog WHERE event_type IS NOT NULL
              |GROUP BY event_type ORDER BY event_type""".stripMargin)
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
   * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    logOracleSql ++ graft.sql.RelQueries.oracleSql ++ graft.ext.ExtQueries.oracleSql

  private def logOracleSql: Map[String, String] = Map(
    "kq1_discover_page" ->
      (envSql + """SELECT * FROM env
        |WHERE "timestamp" BETWEEN TIMESTAMP '2024-01-01' AND TIMESTAMP '2030-01-01'
        |ORDER BY "timestamp" DESC, "offset" DESC LIMIT 100""".stripMargin),

    "kq1_discover_hist" ->
      (envSql + """SELECT date_trunc('hour', "timestamp") AS bucket, count(*) AS n
        |FROM env GROUP BY 1 ORDER BY bucket""".stripMargin),

    "kq11_hist_breakdown" ->
      (envSql + """SELECT date_trunc('hour', "timestamp") AS bucket,
        |  event_type, count(*) AS n
        |FROM env WHERE event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin),

    "kq12_trend" ->
      (multiEnvSql.stripSuffix("\n") + """,
        |hourly AS (
        |  SELECT topic, date_trunc('hour', "timestamp") AS bucket,
        |         count(*) AS n
        |  FROM u GROUP BY 1, 2)
        |SELECT topic, bucket, n,
        |  lag(n) OVER w AS prev_n,
        |  n - COALESCE(lag(n) OVER w, n) AS delta,
        |  round(CAST(SUM(n) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |             AS DOUBLE)
        |        / least(row_number() OVER w, 3), 4) AS ma3
        |FROM hourly
        |WINDOW w AS (PARTITION BY topic ORDER BY bucket)
        |ORDER BY topic, bucket""".stripMargin),

    "kq2_search_key" ->
      (envSql + """SELECT * FROM env WHERE "key" = '13' ORDER BY "offset""""),

    "kq3_search_key_topic" ->
      (envSql + """SELECT * FROM env WHERE "key" = '7' AND topic = 'events' ORDER BY "offset""""),

    "kq4_search_field" ->
      (envSql + """SELECT * FROM env WHERE event_type = 'click' ORDER BY "offset""""),

    "kq4b_search_json" ->
      (envSql + """SELECT * FROM env
        |WHERE CASE WHEN value_json LIKE '{%'
        |           THEN json_extract_string(value_json, '$.event_type') = 'error'
        |           ELSE FALSE END
        |ORDER BY "offset"""".stripMargin),

    "kq5_tombstones" ->
      (envSql + """SELECT * FROM env WHERE value_json = 'TOMBSTONE' ORDER BY "offset""""),

    "kq6_latest_state" ->
      (envSql + """SELECT uid, "key", topic, "partition", "offset", "timestamp"
        |FROM (SELECT *, row_number() OVER (PARTITION BY topic, "key"
        |        ORDER BY "timestamp" DESC, "offset" DESC) AS rn FROM env)
        |WHERE rn = 1 ORDER BY "key"""".stripMargin),

    "kq7_changelog" ->
      (envSql + """SELECT * FROM env ORDER BY "offset""""),

    "kq8_multi_topic" ->
      (multiEnvSql +
        """SELECT * FROM u WHERE "key" = '13' ORDER BY topic, "offset""""),

    // v1-written records (even event_id) surface the reader default for
    // the field added in v2 — DuckDB reconstructs that from the raw table
    "kq10_schema_evolution" ->
      """SELECT event_id, event_type, "value",
        |  CASE WHEN event_id % 2 = 0 THEN 'n/a' ELSE props END AS props
        |FROM events ORDER BY event_id""".stripMargin,

    // kq103 decodes THROUGH the live REST registry; the contract is
    // byte-identical output to kq10's static-map decode
    "kq103_registry_decode" ->
      """SELECT event_id, event_type, "value",
        |  CASE WHEN event_id % 2 = 0 THEN 'n/a' ELSE props END AS props
        |FROM events ORDER BY event_id""".stripMargin,

    // the wire path must reproduce the SAME envelope the parquet-shaped
    // pipeline yields — the oracle IS the plain env CTE
    "kq22_wire_path" ->
      (envSql + """SELECT * FROM env ORDER BY "offset"""".stripMargin),

    // the stateful processor's fixpoint: per-key count + argmax-by-offset
    "kq23_stream_key_stats" ->
      (envSql + """SELECT topic, "key", count(*) AS n,
        |  max("offset") AS last_offset,
        |  arg_max(value_json, "offset") AS last_value
        |FROM env GROUP BY 1, 2 ORDER BY topic, "key"""".stripMargin),

    // kq83: the map-state fixpoint is the plain per-(key, type) count
    "kq83_stream_map_state" ->
      (envSql + """SELECT "key", event_type, count(*) AS n
        |FROM env WHERE event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY "key", event_type""".stripMargin),

    "kq13_rare_terms" ->
      (envSql + """SELECT "key", count(*) AS doc_count
        |FROM env GROUP BY 1 ORDER BY doc_count, "key" LIMIT 20""".stripMargin),

    "kq14_percentiles" ->
      (envSql + """SELECT event_type,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
        |      THEN "value" END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
        |      THEN "value" END) AS p90,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
        |      THEN "value" END) AS p99
        |FROM (SELECT event_type, "value",
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY "value", "offset") AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM env WHERE "value" IS NOT NULL)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "kq17_hist_gapfill" ->
      (envSql + """SELECT spine.bucket, COALESCE(h.n, 0) AS n
        |FROM (SELECT unnest(generate_series(
        |        (SELECT date_trunc('hour', min("timestamp")) FROM env),
        |        (SELECT date_trunc('hour', max("timestamp")) FROM env),
        |        INTERVAL 1 HOUR)) AS bucket) spine
        |LEFT JOIN (SELECT date_trunc('hour', "timestamp") AS bucket,
        |             count(*) AS n
        |           FROM env GROUP BY 1) h USING (bucket)
        |ORDER BY spine.bucket""".stripMargin),

    "kq19_numeric_hist" ->
      (envSql + """SELECT CAST(floor("value" / 10) * 10 AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM env WHERE "value" IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin),

    "kq20_composite_after" ->
      (envSql + """SELECT "key", count(*) AS doc_count
        |FROM env GROUP BY 1 HAVING "key" > '13'
        |ORDER BY "key" LIMIT 10""".stripMargin),

    "kq15_filters_agg" ->
      (envSql + """SELECT
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS clicks,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS purchases,
        |  CAST(sum(CASE WHEN value_json = 'TOMBSTONE' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS tombstones,
        |  CAST(sum(CASE WHEN "value" > 50.0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS high_value
        |FROM env""".stripMargin),

    "kq16_top_hits" ->
      (envSql + """SELECT event_type, CAST(hit_rank AS INT) AS hit_rank,
        |  uid, "timestamp", "value"
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY "timestamp" DESC, "offset" DESC, uid) AS hit_rank
        |      FROM env WHERE event_type IS NOT NULL)
        |WHERE hit_rank <= 3
        |ORDER BY event_type, hit_rank""".stripMargin),

    // kq57: the audit is pure arithmetic over the envelope — per
    // (topic, date) counts, restricted to partitions holding the key
    "kq57_forget_key" ->
      (envSql + """SELECT topic,
        |  strftime(CAST("timestamp" AS DATE), '%Y-%m-%d') AS "date",
        |  CAST(count(*) AS BIGINT) AS rows_before,
        |  CAST(sum(CASE WHEN "key" = '13' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rows_deleted,
        |  CAST(count(*) - sum(CASE WHEN "key" = '13' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rows_after
        |FROM env GROUP BY 1, 2
        |HAVING sum(CASE WHEN "key" = '13' THEN 1 ELSE 0 END) > 0
        |ORDER BY topic, "date"""".stripMargin),

    // kq104: per-(subject, partition) delete counts + the partition's
    // own before/after totals restricted to partitions any subject hits
    "kq104_forget_batch" ->
      (envSql + """, d AS (
        |  SELECT "key", topic,
        |    strftime(CAST("timestamp" AS DATE), '%Y-%m-%d') AS "date",
        |    CAST(count(*) AS BIGINT) AS rows_deleted
        |  FROM env WHERE "key" IN ('7', '13', '21') GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT topic,
        |    strftime(CAST("timestamp" AS DATE), '%Y-%m-%d') AS "date",
        |    CAST(count(*) AS BIGINT) AS part_rows_before,
        |    CAST(count(*) - sum(CASE WHEN "key" IN ('7', '13', '21')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS part_rows_after
        |  FROM env GROUP BY 1, 2
        |  HAVING sum(CASE WHEN "key" IN ('7', '13', '21') THEN 1 ELSE 0
        |    END) > 0)
        |SELECT d."key", d.topic, d."date", d.rows_deleted,
        |  p.part_rows_before, p.part_rows_after
        |FROM d JOIN p ON d.topic = p.topic AND d."date" = p."date"
        |ORDER BY d."key", d.topic, d."date"""".stripMargin),

    "kq54_collapse" ->
      (envSql + """SELECT "key", uid, "timestamp", "offset", event_type,
        |  n_hits
        |FROM (SELECT "key", uid, "timestamp", "offset", event_type,
        |        row_number() OVER (PARTITION BY "key"
        |          ORDER BY "timestamp" DESC, "offset" DESC, uid)
        |          AS hit_rank,
        |        count(*) OVER (PARTITION BY "key") AS n_hits
        |      FROM env)
        |WHERE hit_rank = 1
        |ORDER BY "timestamp" DESC, "offset" DESC, uid
        |LIMIT 20""".stripMargin),

    // percolate: each stored KQL query hand-translated exactly like
    // kq18/kq21's pinned forms (wildcard -> LIKE, quoted phrase ->
    // analyzed-token containment); the UNION ALL arms are the per-query
    // legs of the one-scan explode
    "kq55_percolate" ->
      (envSql + """SELECT CAST(query_id AS INT) AS query_id, uid FROM (
        |  SELECT 1 AS query_id, uid FROM env
        |  WHERE event_type = 'click' AND "value" >= 50
        |  UNION ALL
        |  SELECT 2 AS query_id, uid FROM env
        |  WHERE event_type LIKE 'p%'
        |  UNION ALL
        |  SELECT 3 AS query_id, uid FROM env
        |  WHERE list_contains(
        |          list_filter(regexp_split_to_array(lower(value_json),
        |                                            '[^a-z0-9]+'),
        |                      t -> t <> ''), 'tombstone')
        |  UNION ALL
        |  SELECT 4 AS query_id, uid FROM env
        |  WHERE "value" < 10 OR event_type = 'signup')
        |ORDER BY query_id, uid""".stripMargin),

    // the quoted "TOMBSTONE" is an analyzed single-token phrase now
    // (match_phrase semantics): token containment in the analyzed stream
    "kq18_kql" ->
      (envSql + """SELECT * FROM env
        |WHERE event_type LIKE 'cl%'
        |   OR ("value" >= 90 AND NOT (event_type = 'signup'))
        |   OR list_contains(
        |        list_filter(regexp_split_to_array(lower(value_json),
        |                                          '[^a-z0-9]+'),
        |                    t -> t <> ''), 'tombstone')
        |ORDER BY "offset"""".stripMargin),

    "kq21_kql_freetext" ->
      (envSql + """SELECT * FROM env
        |WHERE list_contains(
        |        list_filter(regexp_split_to_array(lower(value_json),
        |                                          '[^a-z0-9]+'),
        |                    t -> t <> ''), 'purchase')
        |   OR event_type LIKE 'c%ck'
        |ORDER BY "offset"""".stripMargin),

    // the phrase [event, type, purchase] must match at CONSECUTIVE
    // positions of the analyzed token list — the positional check the
    // Spark side's PhraseMatch ring buffer performs
    "kq24_kql_phrase" ->
      (envSql + """SELECT uid, "key", topic, "partition", "offset",
        |  "timestamp", event_type, "value", props, value_json
        |FROM (SELECT *,
        |        list_filter(regexp_split_to_array(lower(value_json),
        |                                          '[^a-z0-9]+'),
        |                    t -> t <> '') AS toks
        |      FROM env)
        |WHERE len(list_filter(range(len(toks) - 2),
        |        i -> toks[i+1] = 'event' AND toks[i+2] = 'type'
        |             AND toks[i+3] = 'purchase')) > 0
        |  AND "value" >= 50
        |ORDER BY "offset"""".stripMargin),

    "kq26_kql_exists" ->
      (envSql + """SELECT * FROM env
        |WHERE event_type IS NOT NULL AND "value" >= 99
        |ORDER BY "offset"""".stripMargin),

    // slop window: anchor 'event', then 'purchase' within the next
    // 1 + slop positions (greedy fold, same construction as x42)
    "kq28_kql_slop" ->
      (envSql + """SELECT uid, "key", topic, "partition", "offset",
        |  "timestamp", event_type, "value", props, value_json
        |FROM (SELECT *,
        |        list_filter(regexp_split_to_array(lower(value_json),
        |                                          '[^a-z0-9]+'),
        |                    t -> t <> '') AS toks
        |      FROM env)
        |WHERE len(list_filter(range(len(toks)), i ->
        |        toks[i+1] = 'event' AND
        |        list_reduce(
        |          list_prepend('2', toks[(i+2) : least(i + 3, len(toks))]),
        |          (a, t) -> CASE WHEN a = '2' AND t = 'purchase' THEN '3'
        |                         ELSE a END) = '3')) > 0
        |  AND "value" >= 50
        |ORDER BY "offset"""".stripMargin),

    // the streaming replay must reproduce BATCH KQL semantics exactly:
    // wildcard LIKE + the kq24 consecutive-position phrase check + range
    "kq32_stream_search" ->
      (envSql + """SELECT uid, "key", topic, "partition", "offset",
        |  "timestamp", event_type, "value", props, value_json
        |FROM (SELECT *,
        |        list_filter(regexp_split_to_array(lower(value_json),
        |                                          '[^a-z0-9]+'),
        |                    t -> t <> '') AS toks
        |      FROM env)
        |WHERE event_type LIKE 'cl%'
        |   OR len(list_filter(range(len(toks) - 2),
        |        i -> toks[i+1] = 'event' AND toks[i+2] = 'type'
        |             AND toks[i+3] = 'purchase')) > 0
        |   OR "value" >= 95
        |ORDER BY "offset"""".stripMargin),

    // fuzzy AUTO on the 7-char term = classic Levenshtein <= 2 over the
    // analyzed token stream — DuckDB's levenshtein is classic like
    // Spark's (FuzzyProps pins the native scan to the built-in)
    "kq31_kql_fuzzy" ->
      (envSql + """SELECT * FROM env
        |WHERE len(list_filter(
        |        list_filter(regexp_split_to_array(lower(value_json),
        |                                          '[^a-z0-9]+'),
        |                    t -> t <> ''),
        |        t -> levenshtein(t, 'purchse') <= 2)) > 0
        |  AND "value" >= 50
        |ORDER BY "offset"""".stripMargin),

    "kq25_terms_by_metric" ->
      (envSql + """SELECT event_type, count(*) AS doc_count,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM env WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY sum_value DESC, event_type LIMIT 5""".stripMargin),

    "kq27_pipeline_aggs" ->
      (envSql + """SELECT bucket, n,
        |  CAST(SUM(n) OVER (ORDER BY bucket
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS cum_n,
        |  n - lag(n) OVER (ORDER BY bucket) AS deriv
        |FROM (SELECT date_trunc('hour', "timestamp") AS bucket,
        |        count(*) AS n
        |      FROM env GROUP BY 1)
        |ORDER BY bucket""".stripMargin),

    "kq29_heatmap" ->
      (envSql + """SELECT date_trunc('hour', "timestamp") AS bucket,
        |  CAST(floor("value" / 10) * 10 AS BIGINT) AS value_bucket,
        |  count(*) AS n
        |FROM env WHERE "value" IS NOT NULL
        |GROUP BY 1, 2 ORDER BY bucket, value_bucket""".stripMargin),

    "kq30_range_agg" ->
      (envSql + """SELECT CASE WHEN "value" IS NULL THEN 'missing'
        |            WHEN "value" < 25 THEN '0-25'
        |            WHEN "value" < 50 THEN '25-50'
        |            WHEN "value" < 75 THEN '50-75'
        |            ELSE '75+' END AS "range",
        |  count(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM env GROUP BY 1 ORDER BY "range"""".stripMargin),

    "kq34_search_after" ->
      (envSql + """SELECT * FROM env
        |WHERE "timestamp" < TIMESTAMP '2024-01-20 12:00:00'
        |   OR ("timestamp" = TIMESTAMP '2024-01-20 12:00:00' AND "offset" < 5000)
        |ORDER BY "timestamp" DESC, "offset" DESC LIMIT 100""".stripMargin),

    "kq33_composite_agg" ->
      (envSql + """SELECT event_type, "key", count(*) AS doc_count
        |FROM env
        |WHERE event_type IS NOT NULL AND "key" IS NOT NULL
        |GROUP BY 1, 2
        |HAVING event_type > 'error'
        |    OR (event_type = 'error' AND "key" > '42')
        |ORDER BY event_type, "key" LIMIT 20""".stripMargin),

    // kq35: the rung choice and bucket edges replay in integer floor-second
    // arithmetic — identical to the Spark side by construction.
    "kq35_auto_hist" ->
      (envSql + """, b AS (SELECT CAST(floor(epoch("timestamp")) AS BIGINT) AS sec
        |           FROM env),
        |r AS (SELECT min(sec) AS lo, max(sec) AS hi FROM b),
        |p AS (SELECT CAST(CASE
        |    WHEN hi // 60 - lo // 60 + 1 <= 100 THEN 60
        |    WHEN hi // 300 - lo // 300 + 1 <= 100 THEN 300
        |    WHEN hi // 900 - lo // 900 + 1 <= 100 THEN 900
        |    WHEN hi // 3600 - lo // 3600 + 1 <= 100 THEN 3600
        |    WHEN hi // 10800 - lo // 10800 + 1 <= 100 THEN 10800
        |    WHEN hi // 43200 - lo // 43200 + 1 <= 100 THEN 43200
        |    WHEN hi // 86400 - lo // 86400 + 1 <= 100 THEN 86400
        |    ELSE 604800 END AS BIGINT) AS interval_sec FROM r)
        |SELECT make_timestamp((sec // interval_sec) * interval_sec * 1000000)
        |         AS bucket,
        |       interval_sec, count(*) AS n
        |FROM b, p GROUP BY 1, 2 ORDER BY bucket""".stripMargin),

    // kq36: all moments in exact integer cents (value has 2dp by
    // fixture); the sums/products stay in HUGEINT (Spark side: DECIMAL)
    // so n*s2 and s1*s1 can never wrap or round — the final doubles are
    // casts of the SAME exact integer in both engines.
    "kq36_extended_stats" ->
      (envSql + """, g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(min(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
        |    CAST(max(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS max_v,
        |    sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS s1,
        |    sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT)
        |          * CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS s2
        |  FROM env WHERE "value" IS NOT NULL GROUP BY 1)
        |SELECT event_type, n, min_v, max_v,
        |  CAST(s1 AS DOUBLE) / 100 AS sum_v,
        |  CAST(s1 AS DOUBLE) / 100 / n AS avg_v,
        |  CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n * 10000) AS var_pop,
        |  sqrt(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n * 10000)) AS std_pop
        |FROM g ORDER BY event_type""".stripMargin),

    // kq37: integer floor-division (// vs div) — identical int64 result.
    "kq37_bucket_script" ->
      (envSql + """SELECT date_trunc('hour', "timestamp") AS bucket,
        |  count(*) AS total,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS errors,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |       AS BIGINT) * 1000000 // count(*) AS error_ppm
        |FROM env GROUP BY 1 ORDER BY bucket""".stripMargin),

    "kq38_adjacency_matrix" ->
      (envSql + """SELECT
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN "value" > 20 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN event_type = 'click' AND "value" > 20
        |           THEN 1 ELSE 0 END) AS BIGINT) AS a_and_c,
        |  CAST(sum(CASE WHEN event_type = 'purchase' AND "value" > 20
        |           THEN 1 ELSE 0 END) AS BIGINT) AS b_and_c
        |FROM env""".stripMargin),

    "kq39_percentile_ranks" ->
      (envSql + """SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN "value" <= 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_le_10,
        |  CAST(sum(CASE WHEN "value" <= 25 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_le_25,
        |  CAST(sum(CASE WHEN "value" <= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_le_50,
        |  CAST(CAST(sum(CASE WHEN "value" <= 10 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS DOUBLE) * 100 / count(*) AS pct_10,
        |  CAST(CAST(sum(CASE WHEN "value" <= 25 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS DOUBLE) * 100 / count(*) AS pct_25,
        |  CAST(CAST(sum(CASE WHEN "value" <= 50 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS DOUBLE) * 100 / count(*) AS pct_50
        |FROM env WHERE "value" IS NOT NULL""".stripMargin),

    // kq40: the CASE guard (not AND) protects json_extract_string from
    // DuckDB's WHERE-conjunct reordering, and json_valid (not LIKE '{%')
    // screens MALFORMED payloads too — Spark's get_json_object yields
    // NULL for those where an unguarded DuckDB call would error;
    // TRY_CAST mirrors Spark's null-on-failure cast so a non-integral
    // weight drops the row in BOTH engines.
    "kq40_weighted_avg" ->
      (envSql + """, j AS (
        |  SELECT event_type,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
        |    CASE WHEN json_valid(props)
        |         THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    END AS w
        |  FROM env WHERE "value" IS NOT NULL AND props IS NOT NULL)
        |SELECT event_type, count(*) AS n, CAST(sum(w) AS BIGINT) AS sw,
        |  CAST(CAST(sum(vc * w) AS BIGINT) AS DOUBLE) / 100
        |    / CAST(sum(w) AS BIGINT) AS weighted_avg
        |FROM j WHERE w IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // kq41: the analyzed-token contract (anTokSql shape), digit runs
    // dropped, DuckDB list slice clamps like Spark's slice.
    "kq41_categorize_text" ->
      (envSql + """SELECT array_to_string(
        |    (list_filter(list_filter(regexp_split_to_array(
        |        lower(value_json), '[^a-z0-9]+'), t -> t <> ''),
        |      t -> NOT regexp_matches(t, '^[0-9]+$')))[1:5], ' ')
        |    AS category,
        |  count(*) AS doc_count, min(uid) AS example_uid
        |FROM env GROUP BY 1 ORDER BY category""".stripMargin),

    // kq42: 6h tumbling windows floor to epoch in whole seconds (kq35's
    // make_timestamp pattern); the 1.2x-mean alert threshold replays as
    // integer cross-multiplication, no floating point.
    "kq42_stream_alert" ->
      (envSql + """, w AS (
        |  SELECT make_timestamp((CAST(floor(epoch("timestamp")) AS BIGINT)
        |           // 21600) * 21600 * 1000000) AS bucket,
        |         event_type, count(*) AS n
        |  FROM env WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT count(*) AS n_windows, CAST(sum(n) AS BIGINT) AS sum_n
        |      FROM w)
        |SELECT bucket, event_type, n FROM w, s
        |WHERE n * 5 * n_windows > sum_n * 6
        |ORDER BY bucket, event_type""".stripMargin),

    // kq43: survivors are deduped per (type, payload) with NULL payloads
    // coalesced to a sentinel on BOTH sides, so Spark's NULLs-equal
    // dropDuplicates and SQL's NULL-skipping count(DISTINCT) agree on
    // every fixture, not just ones without NULL payloads.
    "kq43_stream_dedup" ->
      (envSql + """SELECT coalesce(event_type, 'TOMBSTONE') AS event_type,
        |  count(DISTINCT coalesce(value_json, '__null_payload__'))
        |    AS n_distinct
        |FROM env GROUP BY 1 ORDER BY event_type""".stripMargin),

    // kq44: kq42's window counts restricted to CLOSED windows — the
    // append-mode emission set. Watermark = floor-to-ms(max event time
    // over the filtered stream) - 1h; a TUMBLING window is emitted once
    // window_end <= watermark (end == wm EMITS — probed in
    // StreamingSpec; note session windows differ: kq48's rule is the
    // strict end < wm). Pure batch predicate, no streaming state in the
    // oracle.
    "kq44_stream_alert_wm" ->
      (envSql + """, w AS (
        |  SELECT make_timestamp((CAST(floor(epoch("timestamp")) AS BIGINT)
        |           // 21600) * 21600 * 1000000) AS bucket,
        |         event_type, count(*) AS n
        |  FROM env WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT max("timestamp") AS mx FROM env
        |      WHERE event_type IS NOT NULL)
        |SELECT bucket, event_type, n FROM w, m
        |WHERE epoch_ms(bucket) + 21600000 <= epoch_ms(mx) - 3600000
        |ORDER BY bucket, event_type""".stripMargin),

    // kq94: kq44's closed-window tail rule (win_end <= wm, timers fire
    // at == wm), then the batch top-3 per closed window with the
    // (count DESC, type ASC) tie-break
    "kq94_stream_topk" ->
      (envSql + """, w AS (
        |  SELECT (CAST(floor(epoch("timestamp")) AS BIGINT) // 21600)
        |           * 21600000 AS win_ms,
        |         event_type, count(*) AS n
        |  FROM env WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT epoch_ms(max("timestamp")) AS mx FROM env
        |      WHERE event_type IS NOT NULL),
        |r AS (SELECT win_ms, event_type, n, CAST(row_number() OVER (
        |        PARTITION BY win_ms ORDER BY n DESC, event_type)
        |      AS BIGINT) AS "rank"
        |  FROM w, m WHERE win_ms + 21600000 <= mx - 3600000)
        |SELECT make_timestamp(win_ms * 1000) AS bucket, "rank",
        |  event_type, n
        |FROM r WHERE "rank" <= 3 ORDER BY bucket, "rank"""".stripMargin),

    // kq101: exactly-once across the restart == kq44's tail rule over
    // the FULL input (run-1-closed windows are complete because every
    // half-2 event is newer than run 1's watermark)
    "kq101_incremental_restart" ->
      (envSql + """, w AS (
        |  SELECT make_timestamp((CAST(floor(epoch("timestamp")) AS BIGINT)
        |           // 21600) * 21600 * 1000000) AS bucket,
        |         event_type, count(*) AS n
        |  FROM env WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT max("timestamp") AS mx FROM env
        |      WHERE event_type IS NOT NULL)
        |SELECT bucket, event_type, n FROM w, m
        |WHERE epoch_ms(bucket) + 21600000 <= epoch_ms(mx) - 3600000
        |ORDER BY bucket, event_type""".stripMargin),

    // kq45: single-batch AvailableNow replay makes within-watermark dedup
    // equal exact dedup, so kq43's oracle replays unchanged.
    "kq45_stream_dedup_wm" ->
      (envSql + """SELECT coalesce(event_type, 'TOMBSTONE') AS event_type,
        |  count(DISTINCT coalesce(value_json, '__null_payload__'))
        |    AS n_distinct
        |FROM env GROUP BY 1 ORDER BY event_type""".stripMargin),

    // kq46: a finite replay of the inner interval join emits exactly the
    // batch time-bounded self-join (watermarks bound state, not emission).
    "kq46_stream_join" ->
      """SELECT s.user_id, s.event_id AS s_id, p.event_id AS p_id,
        |  epoch_us(p.ts) - epoch_us(s.ts) AS gap_us
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id
        | AND s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS
        |ORDER BY s.user_id, s_id, p_id""".stripMargin,

    // kq47: matched pairs emit unconditionally (inner semantics); a
    // null-extended signup emits iff no match exists AND the final join
    // watermark (min of the two streams' max event time, ms, − delay)
    // has passed its 24 h horizon — signups nearer the end of data are
    // ABSENT by bounded-state semantics.
    "kq47_stream_join_outer" ->
      """WITH s AS (SELECT user_id, event_id AS s_id, ts AS s_ts
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT s.user_id, s.s_id, p.p_id,
        |        epoch_us(p.p_ts) - epoch_us(s.s_ts) AS gap_us
        |      FROM s JOIN p ON s.user_id = p.user_id
        |        AND p.p_ts >= s.s_ts
        |        AND p.p_ts <= s.s_ts + INTERVAL 24 HOURS),
        |wm AS (SELECT least((SELECT epoch_ms(max(s_ts)) FROM s),
        |                    (SELECT epoch_ms(max(p_ts)) FROM p))
        |              - 3600000 AS wm_ms),
        |un AS (SELECT s.user_id, s.s_id, CAST(NULL AS BIGINT) AS p_id,
        |         CAST(NULL AS BIGINT) AS gap_us
        |       FROM s, wm
        |       WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.s_id = s.s_id)
        |         AND wm_ms > epoch_ms(s_ts) + 86400000)
        |SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM un)
        |ORDER BY user_id, s_id, p_id""".stripMargin,

    // kq48: session_window semantics — events span [ts, ts+gap) and merge
    // on OVERLAP only, so the islands form breaks on diff >= gap (NOT
    // q25's diff > gap); a session emits once its end (µs) is STRICTLY
    // before the final watermark (floor-to-ms(max ts) − 1h, in µs) —
    // end == wm is NOT emitted (pinned empirically in StreamingSpec).
    "kq48_stream_session" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |    CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
        |                  THEN 1 ELSE 0 END)
        |         OVER (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_idx
        |  FROM g),
        |agg AS (
        |  SELECT user_id, min(us) AS start_us,
        |    max(us) + 1800000000 AS end_us, count(*) AS n_events
        |  FROM s GROUP BY user_id, session_idx),
        |m AS (SELECT epoch_ms(max(ts)) AS mx_ms FROM events)
        |SELECT user_id, start_us, end_us, n_events FROM agg, m
        |WHERE end_us < (mx_ms - 3600000) * 1000
        |ORDER BY user_id, start_us""".stripMargin,

    // kq49: a user's inactivity timer (floor-to-ms(last event) + 6 h)
    // fires once the final watermark (floor-to-ms(max ts) − 1 h) is at
    // or past it — expiry == wm FIRES (timers share kq44's tumbling <=
    // boundary, not kq48's strict session one; probed in StreamingSpec);
    // the still-active tail is absent by semantics.
    "kq49_stream_inactivity" ->
      """WITH s AS (SELECT user_id, count(*) AS n_events,
        |             max(epoch_us(ts)) AS last_seen_us
        |           FROM events GROUP BY 1),
        |m AS (SELECT epoch_ms(max(ts)) AS mx_ms FROM events)
        |SELECT user_id, n_events, last_seen_us FROM s, m
        |WHERE (last_seen_us // 1000) + 21600000 <= mx_ms - 3600000
        |ORDER BY user_id""".stripMargin,

    // kq56: alerts fire ON ARRIVAL (no watermark tail rule) and ties
    // count order-free, so the streamed emission equals the batch
    // RANGE-frame window count per user — q29's frame with a >= 3 gate.
    "kq56_stream_cep" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events
        |           WHERE event_type = 'click'),
        |c AS (SELECT user_id, us, CAST(count(*) OVER (
        |        PARTITION BY user_id ORDER BY us
        |        RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_window
        |  FROM e)
        |SELECT user_id, us AS at_us, n_window FROM c WHERE n_window >= 3
        |ORDER BY user_id, at_us""".stripMargin,

    // kq109: alerts fire ON ARRIVAL (no watermark tail rule); strict
    // event-time slices compose the per-batch folds into exactly the
    // batch lag() transition rule, first sighting vs OUTSIDE.
    "kq109_stream_geofence" ->
      s"""WITH e AS (${graft.query.Geo.eventFenceSql}),
         |r AS (SELECT user_id, event_id, us, inside,
         |        lag(inside, 1, FALSE) OVER (PARTITION BY user_id
         |          ORDER BY us, event_id) AS prev
         |      FROM e)
         |SELECT user_id, us AS at_us, event_id,
         |  CASE WHEN inside THEN 'ENTER' ELSE 'EXIT' END AS kind
         |FROM r WHERE inside <> prev
         |ORDER BY user_id, at_us, event_id""".stripMargin,

    // kq111: kq109's transition oracle verbatim, fence swapped to the
    // polygon-inside flag (the identical generated even-odd fragment).
    "kq111_polygon_fence" ->
      s"""WITH e AS (${graft.query.Geo.eventPolygonSql}),
         |r AS (SELECT user_id, event_id, us, inside,
         |        lag(inside, 1, FALSE) OVER (PARTITION BY user_id
         |          ORDER BY us, event_id) AS prev
         |      FROM e)
         |SELECT user_id, us AS at_us, event_id,
         |  CASE WHEN inside THEN 'ENTER' ELSE 'EXIT' END AS kind
         |FROM r WHERE inside <> prev
         |ORDER BY user_id, at_us, event_id""".stripMargin,

    // kq50: a stateless stream-static join replays as the plain batch
    // left join — no watermark emission rule applies (nothing in state).
    "kq50_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, e."value",
        |  c.c_mktsegment AS mktsegment, c.c_nationkey AS nationkey
        |FROM events e LEFT JOIN
        |  (SELECT * FROM customer WHERE c_acctbal > 0) c
        |  ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    // kq51: trailing moving sum + lag-24 serial difference — integer
    // window functions over the hourly buckets, no float surface.
    "kq51_moving_fn" ->
      (envSql + """SELECT bucket, n,
        |  CAST(SUM(n) OVER (ORDER BY bucket
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS mov24,
        |  n - lag(n, 24) OVER (ORDER BY bucket) AS sdiff24
        |FROM (SELECT date_trunc('hour', "timestamp") AS bucket,
        |        count(*) AS n
        |      FROM env GROUP BY 1)
        |ORDER BY bucket""".stripMargin),

    // kq58: the window folds replayed per bucket as ONE recursive CTE
    // advancing every bucket's accumulator a step at a time (bounded by
    // the 24-row frame). ewma's dyadic halvings are exact; holt repeats
    // the entry's pinned left-assoc IEEE sequence bit-for-bit; the
    // linear weights stay integer. greatest(rn-23, 1) re-derives each
    // window's in-frame position j.
    "kq58_moving_model" ->
      (envSql.replaceFirst("WITH ", "WITH RECURSIVE ") + """, h AS (
        |  SELECT date_trunc('hour', "timestamp") AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM env GROUP BY 1),
        |hr AS (SELECT bucket, n,
        |         CAST(row_number() OVER (ORDER BY bucket) AS BIGINT) AS rn
        |       FROM h),
        |win AS (
        |  SELECT a.rn AS rn, b.n AS v,
        |         CAST(b.rn - greatest(a.rn - 23, 1) + 1 AS BIGINT) AS j
        |  FROM hr a JOIN hr b ON b.rn BETWEEN a.rn - 23 AND a.rn),
        |steps AS (
        |  SELECT rn, j, CAST(v AS DOUBLE) AS avg, v * j AS num,
        |         CAST(v AS DOUBLE) AS s, CAST(0 AS DOUBLE) AS b
        |  FROM win WHERE j = 1
        |  UNION ALL
        |  SELECT w.rn, w.j,
        |         (CAST(w.v AS DOUBLE) + st.avg) / 2,
        |         st.num + w.v * w.j,
        |         (CAST(w.v AS DOUBLE) + st.s + st.b) / 2,
        |         ((CAST(w.v AS DOUBLE) + st.s + st.b) / 2
        |           - st.s + st.b) / 2
        |  FROM steps st JOIN win w ON w.rn = st.rn AND w.j = st.j + 1),
        |last AS (SELECT rn, max(j) AS k FROM win GROUP BY rn)
        |SELECT hr.bucket, hr.n, st.avg AS ewma24,
        |  CAST(st.num AS BIGINT) AS lin_num,
        |  CAST(l.k * (l.k + 1) // 2 AS BIGINT) AS lin_den,
        |  st.s + st.b AS holt1
        |FROM hr JOIN last l ON hr.rn = l.rn
        |  JOIN steps st ON st.rn = hr.rn AND st.j = l.k
        |ORDER BY hr.bucket""".stripMargin),

    // kq61: kq44's watermark tail rule applied to the DISTINCT
    // (type, payload, event-time) triples — the dedup collapses the
    // planted replays, so the windows count distinct triples; the
    // global watermark is floor-ms(max ts) - 1h and windows emit at
    // end <= wm (the pinned tumbling rule).
    "kq61_stream_chain" ->
      (envSql + """, d AS (
        |  SELECT DISTINCT event_type,
        |    coalesce(value_json, '__null_payload__') AS payload,
        |    "timestamp"
        |  FROM env WHERE event_type IS NOT NULL),
        |w AS (
        |  SELECT make_timestamp((CAST(floor(epoch("timestamp")) AS BIGINT)
        |           // 21600) * 21600 * 1000000) AS bucket,
        |         event_type, count(*) AS n
        |  FROM d GROUP BY 1, 2),
        |m AS (SELECT max("timestamp") AS mx FROM env
        |      WHERE event_type IS NOT NULL)
        |SELECT bucket, event_type, n FROM w, m
        |WHERE epoch_ms(bucket) + 21600000 <= epoch_ms(mx) - 3600000
        |ORDER BY bucket, event_type""".stripMargin),

    // kq68: same lag window; gaps in exact integer microseconds
    "kq68_gap_detection" ->
      (envSql + """SELECT "key", gap_start, gap_end, gap_us FROM (
        |  SELECT "key",
        |    lag("timestamp") OVER (PARTITION BY "key"
        |      ORDER BY "timestamp", "offset") AS gap_start,
        |    "timestamp" AS gap_end,
        |    epoch_us("timestamp") - epoch_us(lag("timestamp") OVER (
        |      PARTITION BY "key" ORDER BY "timestamp", "offset"))
        |      AS gap_us
        |  FROM env)
        |WHERE gap_us > 43200000000
        |ORDER BY gap_us DESC, "key", gap_start LIMIT 50""".stripMargin),

    // kq74: the state rows ARE the left side; the oracle is the plain
    // batch aggregate the state must equal
    "kq74_state_audit" ->
      (envSql + """SELECT "key", count(*) AS n,
        |  CAST(sum(CASE WHEN "value" IS NOT NULL
        |                THEN CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |                          AS BIGINT)
        |                ELSE 0 END) AS BIGINT) AS cents
        |FROM env GROUP BY 1 ORDER BY "key"""".stripMargin),

    // kq75: identical wrap-at-2e5 counter and reset-aware deltas
    "kq75_counter_rate" ->
      (envSql + """, c AS (
        |  SELECT "key", "timestamp", "offset",
        |    sum(CASE WHEN "value" IS NOT NULL
        |             THEN CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |                       AS BIGINT)
        |             ELSE 0 END) OVER w % 200000 AS counter
        |  FROM env
        |  WINDOW w AS (PARTITION BY "key" ORDER BY "timestamp", "offset"
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT "timestamp", counter,
        |    lag(counter) OVER (PARTITION BY "key"
        |      ORDER BY "timestamp", "offset") AS prev
        |  FROM c)
        |SELECT date_trunc('hour', "timestamp") AS bucket,
        |  count(*) AS n_samples,
        |  CAST(sum(CASE WHEN prev IS NULL THEN 0
        |                WHEN counter >= prev THEN counter - prev
        |                ELSE counter END) AS BIGINT) AS increase_cents,
        |  CAST(sum(CASE WHEN counter < prev THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_resets
        |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin),

    // kq76: identical le buckets, cumulative window, chosen-bucket
    // predicate, and positive-numerator integer interpolation
    "kq76_histogram_quantile" ->
      (envSql + """, v AS (
        |  SELECT event_type, date_trunc('day', "timestamp") AS day,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM env WHERE "value" IS NOT NULL AND event_type IS NOT NULL),
        |c AS (
        |  SELECT event_type, day,
    |    CAST(CASE WHEN cents <= 1000 THEN 1000
        |         WHEN cents <= 2500 THEN 2500 WHEN cents <= 5000 THEN 5000
        |         WHEN cents <= 10000 THEN 10000
        |         WHEN cents <= 20000 THEN 20000 ELSE 99999 END
        |         AS BIGINT) AS le,
        |    count(*) AS cnt
        |  FROM v GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT *,
        |    sum(cnt) OVER (PARTITION BY event_type, day ORDER BY le
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COALESCE(lag(le) OVER (PARTITION BY event_type, day
        |      ORDER BY le), 0) AS lo,
        |    sum(cnt) OVER (PARTITION BY event_type, day) AS n
        |  FROM c),
        |p AS (SELECT w.*, phi
        |      FROM w, (SELECT unnest([50, 90, 99]) AS phi) ph)
        |SELECT event_type, day, phi, CAST(n AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN le = 99999 THEN CAST(20000000000 AS BIGINT)
        |       ELSE lo * 1000000 + ((le - lo) *
        |            (phi * n - (cum - cnt) * 100) * 1000000)
        |            // (100 * cnt) END AS BIGINT) AS q_micro_cents
        |FROM p
        |WHERE cum * 100 >= phi * n AND (cum - cnt) * 100 < phi * n
        |ORDER BY event_type, day, phi""".stripMargin),

    // kq77: identical lower-median ranks and half-cent Tukey fences;
    // every emitted double is an input value
    "kq77_boxplot" ->
      (envSql + """, v AS (
        |  SELECT event_type, date_trunc('day', "timestamp") AS day,
        |    "value",
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM env WHERE "value" IS NOT NULL AND event_type IS NOT NULL),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY "value") AS rn,
        |    count(*) OVER (PARTITION BY event_type, day) AS n
        |  FROM v),
        |q AS (
        |  SELECT event_type, day, max(n) AS n,
        |    max(CASE WHEN rn = (n + 3) // 4 THEN "value" END) AS q1,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN "value" END) AS median,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN "value" END) AS q3,
        |    max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1c,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3c
        |  FROM r GROUP BY 1, 2)
        |SELECT v.event_type, v.day, CAST(max(q.n) AS BIGINT) AS n_samples,
        |  max(q.q1) AS q1, max(q.median) AS median, max(q.q3) AS q3,
        |  min(CASE WHEN v.cents * 2 >= 2 * q.q1c - 3 * (q.q3c - q.q1c)
        |           THEN v."value" END) AS whisker_lo,
        |  max(CASE WHEN v.cents * 2 <= 2 * q.q3c + 3 * (q.q3c - q.q1c)
        |           THEN v."value" END) AS whisker_hi,
        |  CAST(sum(CASE WHEN v.cents * 2 < 2 * q.q1c - 3 * (q.q3c - q.q1c)
        |             OR v.cents * 2 > 2 * q.q3c + 3 * (q.q3c - q.q1c)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM v JOIN q ON v.event_type = q.event_type AND v.day = q.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // kq78: identical ordered self-joins over the frequent-item-pruned
    // baskets; support floor-div ppm
    "kq78_frequent_itemsets" ->
      (envSql + """, b AS (
        |  SELECT DISTINCT "key", event_type AS et FROM env
        |  WHERE event_type IS NOT NULL),
        |nu AS (SELECT count(DISTINCT "key") AS n_users FROM b),
        |i1 AS (SELECT et, count(*) AS support FROM b GROUP BY 1),
        |f1 AS (SELECT i1.*, nu.n_users FROM i1, nu
        |       WHERE support * 10 >= n_users),
        |fb AS (SELECT b.* FROM b JOIN f1 ON b.et = f1.et),
        |p2 AS (SELECT a.et AS et1, c.et AS et2, count(*) AS support
        |       FROM fb a JOIN fb c ON a."key" = c."key" AND a.et < c.et
        |       GROUP BY 1, 2),
        |f2 AS (SELECT p2.*, nu.n_users FROM p2, nu
        |       WHERE support * 10 >= n_users),
        |p3 AS (SELECT a.et AS et1, c.et AS et2, d.et AS et3,
        |         count(*) AS support
        |       FROM fb a JOIN fb c ON a."key" = c."key" AND a.et < c.et
        |                 JOIN fb d ON a."key" = d."key" AND c.et < d.et
        |       GROUP BY 1, 2, 3),
        |f3 AS (SELECT p3.*, nu.n_users FROM p3, nu
        |       WHERE support * 10 >= n_users),
        |un AS (
        |  SELECT 1 AS set_size, et AS items, support, n_users FROM f1
        |  UNION ALL
        |  SELECT 2, et1 || '+' || et2, support, n_users FROM f2
        |  UNION ALL
        |  SELECT 3, et1 || '+' || et2 || '+' || et3, support, n_users
        |  FROM f3)
        |SELECT set_size, items, CAST(support AS BIGINT) AS support,
        |  CAST(support * 1000000 // n_users AS BIGINT) AS support_ppm
        |FROM un ORDER BY set_size, support DESC, items""".stripMargin),

    // kq79: identical division-free |m·prefix − k·S| cusum statistic,
    // earliest bucket on ties
    "kq79_change_point" ->
      (envSql + """, c AS (
        |  SELECT event_type, date_trunc('hour', "timestamp") AS bucket,
        |    count(*) AS cnt
        |  FROM env WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY bucket) AS k,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |    count(*) OVER (PARTITION BY event_type) AS m,
        |    sum(cnt) OVER (PARTITION BY event_type) AS total
        |  FROM c),
        |s AS (SELECT *, abs(m * p - k * total) AS stat
        |      FROM w WHERE k < m),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY stat DESC, bucket) AS pick
        |      FROM s)
        |SELECT event_type, bucket AS cp_bucket,
        |  CAST(k AS BIGINT) AS k_before, CAST(m AS BIGINT) AS m_buckets,
        |  CAST(stat AS BIGINT) AS cusum_stat,
        |  CAST(p AS BIGINT) AS left_sum,
        |  CAST(total - p AS BIGINT) AS right_sum,
        |  CAST(CASE WHEN (total - p) * k - p * (m - k) > 0 THEN 1
        |            WHEN (total - p) * k - p * (m - k) < 0 THEN -1
        |            ELSE 0 END AS BIGINT) AS direction
        |FROM r WHERE pick = 1 ORDER BY event_type""".stripMargin),

    // kq80: DuckDB's windowed list() carries the trailing frame; the
    // lower-median index is the same integer expression
    "kq80_moving_median" ->
      (envSql + """, c AS (
        |  SELECT event_type, date_trunc('hour', "timestamp") AS bucket,
        |    count(*) AS cnt
        |  FROM env WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, bucket, cnt,
        |    list_sort(list(cnt) OVER (PARTITION BY event_type
        |      ORDER BY bucket
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        |  FROM c)
        |SELECT event_type, bucket, cnt,
        |  CAST(len(win) AS BIGINT) AS win_n,
        |  win[CAST((len(win) + 1) // 2 AS INT)] AS moving_median
        |FROM w ORDER BY event_type, bucket""".stripMargin),

    // kq81: identical gap ranking (DESC NULLS LAST, smaller value wins
    // ties) and boundary prefix-sum bucketing
    "kq81_variable_width_histogram" ->
      (envSql + """, v AS (
        |  SELECT event_type,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM env WHERE "value" IS NOT NULL AND event_type IS NOT NULL),
        |d AS (SELECT DISTINCT event_type, cents FROM v),
        |g AS (
        |  SELECT *, cents - lag(cents) OVER (PARTITION BY event_type
        |    ORDER BY cents) AS gap
        |  FROM d),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gap DESC NULLS LAST, cents) AS grank
        |  FROM g),
        |b AS (
        |  SELECT event_type, cents,
        |    sum(CASE WHEN gap IS NOT NULL AND grank <= 4 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bucket
        |  FROM r)
        |SELECT v.event_type, CAST(b.bucket AS BIGINT) AS bucket,
        |  count(*) AS n_events,
        |  min(v.cents) AS min_cents, max(v.cents) AS max_cents
        |FROM v JOIN b ON v.event_type = b.event_type AND v.cents = b.cents
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "kq82_geo_centroid" -> graft.query.Geo.geoCentroidBoundsOracle,

    // kq99: string_agg ORDER BY rn == Spark's array_sort(struct(rn, pt))
    "kq99_geo_line" -> graft.query.Geo.geoLineOracle(),

    // kq84: the documented md5-hex -> integer fold matches Spark's
    // conv(substring(md5, 1, 8), 16, 10)
    "kq84_random_sampler" ->
      (envSql + """, sm AS (
        |  SELECT event_type,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(uid), 1, 8), ''),
        |      c -> instr('0123456789abcdef', c) - 1),
        |      (a, b) -> a * 16 + b) % 8 = 0 AS s
        |  FROM env WHERE event_type IS NOT NULL)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS sampled_n,
        |  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) * 8 AS BIGINT) AS est_n,
        |  count(*) AS exact_n
        |FROM sm GROUP BY 1 ORDER BY 1""".stripMargin),

    // kq72: identical spine + IGNORE-NULLS carry windows; the sign split
    // keeps every floor-division positive
    "kq72_interpolate" ->
      (envSql + """, counts AS (
        |  SELECT event_type, date_trunc('hour', "timestamp") AS bucket,
        |         count(*) AS n
        |  FROM env WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(mn, mx,
        |    INTERVAL 1 HOUR)) AS bucket
        |  FROM (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
        |        FROM counts GROUP BY 1)),
        |j AS (
        |  SELECT s.event_type, s.bucket, c.n,
        |    epoch_us(s.bucket) // 3600000000 AS hi
        |  FROM spine s LEFT JOIN counts c
        |    ON s.event_type = c.event_type AND s.bucket = c.bucket),
        |w AS (
        |  SELECT *,
        |    last_value(n IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY hi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pn,
        |    last_value(CASE WHEN n IS NOT NULL THEN hi END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(n IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY hi
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nn,
        |    first_value(CASE WHEN n IS NOT NULL THEN hi END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hi
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT event_type, bucket, n,
        |  CASE WHEN n IS NOT NULL THEN n * 1000000
        |       WHEN nn >= pn THEN pn * 1000000 +
        |         ((nn - pn) * (hi - ph) * 1000000) // (nh - ph)
        |       ELSE pn * 1000000 -
        |         ((pn - nn) * (hi - ph) * 1000000) // (nh - ph)
        |  END AS interp_micro,
        |  n IS NULL AS interpolated
        |FROM w ORDER BY event_type, bucket""".stripMargin),

    // kq73: the same diversity cap, top-k tuple, and terms rollup
    "kq73_diversified_sampler" ->
      (envSql + """SELECT event_type, count(*) AS n FROM (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY "key"
        |      ORDER BY "timestamp" DESC, "offset" DESC, uid) AS rk
        |    FROM env) t
        |  WHERE rk <= 2
        |  ORDER BY "timestamp" DESC, "offset" DESC, uid LIMIT 100)
        |WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // kq69: identical character explode (unnest of generate_series) and
    // the same integer nano-nat freeze of every ln
    "kq69_string_stats" ->
      (envSql + """, base AS (
        |  SELECT event_type, props FROM env
        |  WHERE event_type IS NOT NULL AND props IS NOT NULL
        |    AND len(props) >= 1),
        |lens AS (
        |  SELECT event_type, count(*) AS n_values,
        |    min(len(props)) AS min_len, max(len(props)) AS max_len,
        |    CAST(sum(len(props)) AS BIGINT) AS total_chars
        |  FROM base GROUP BY 1),
        |chars AS (
        |  SELECT event_type, substr(props, i, 1) AS ch FROM (
        |    SELECT event_type, props,
        |      unnest(generate_series(1, len(props))) AS i
        |    FROM base)),
        |kk AS (SELECT event_type, ch, count(*) AS k
        |       FROM chars GROUP BY 1, 2),
        |ent AS (
        |  SELECT event_type, count(*) AS uniq_chars,
        |    CAST(SUM(k * CAST(floor(ln(CAST(k AS DOUBLE)) * 1e9) AS BIGINT))
        |         AS BIGINT) AS klnk
        |  FROM kk GROUP BY 1)
        |SELECT l.event_type, l.n_values, l.min_len, l.max_len,
        |  l.total_chars, e.uniq_chars,
        |  CAST(floor(ln(CAST(l.total_chars AS DOUBLE)) * 1e9) AS BIGINT)
        |    - e.klnk // l.total_chars AS entropy_nano
        |FROM lens l JOIN ent e USING (event_type)
        |ORDER BY event_type""".stripMargin),

    // kq70: cents freeze + exact integer moments (kq52's recipe); t is
    // derived with the IDENTICAL op sequence as the Spark side
    "kq70_t_test" ->
      (envSql + """, j AS (
        |  SELECT date_trunc('day', "timestamp") AS "day", event_type,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM env
        |  WHERE "value" IS NOT NULL AND event_type IN ('click', 'purchase')),
        |g AS (
        |  SELECT "day",
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS n1,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN xc END)
        |         AS BIGINT) AS sx1,
        |    sum(CASE WHEN event_type = 'click'
        |             THEN CAST(xc AS HUGEINT) * xc END) AS sxx1,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n2,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN xc END)
        |         AS BIGINT) AS sx2,
        |    sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(xc AS HUGEINT) * xc END) AS sxx2
        |  FROM j GROUP BY 1),
        |m AS (
        |  SELECT "day", n1, n2,
        |    CAST(CAST(sx1 AS HUGEINT) * n2 - CAST(sx2 AS HUGEINT) * n1
        |         AS BIGINT) AS diff_num,
        |    CAST(CAST(n1 AS HUGEINT) * sxx1 - CAST(sx1 AS HUGEINT) * sx1
        |         AS BIGINT) AS var1_num,
        |    CAST(CAST(n2 AS HUGEINT) * sxx2 - CAST(sx2 AS HUGEINT) * sx2
        |         AS BIGINT) AS var2_num
        |  FROM g)
        |SELECT "day", n1, n2, diff_num, var1_num, var2_num,
        |  CASE WHEN n1 > 1 AND n2 > 1 AND (var1_num > 0 OR var2_num > 0)
        |       THEN CAST(diff_num AS DOUBLE) / (n1 * n2) /
        |            sqrt(CAST(var1_num AS DOUBLE) / (n1 * n1 * (n1 - 1)) +
        |                 CAST(var2_num AS DOUBLE) / (n2 * n2 * (n2 - 1)))
        |  END AS t_welch
        |FROM m ORDER BY "day"""".stripMargin),

    // kq71: lower-median order statistics — rank (n+1)//2 by value, then
    // by |value − median|; emitted values are INPUT doubles
    "kq71_mad" ->
      (envSql + """, base AS (
        |  SELECT event_type, "value" FROM env
        |  WHERE event_type IS NOT NULL AND "value" IS NOT NULL),
        |med AS (
        |  SELECT event_type, n, "value" AS median FROM (
        |    SELECT event_type, "value",
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY "value") AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM base)
        |  WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT b.event_type, m.n, m.median,
        |    abs(b."value" - m.median) AS dev
        |  FROM base b JOIN med m USING (event_type))
        |SELECT event_type, n, median, dev AS mad FROM (
        |  SELECT event_type, n, median, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rd
        |  FROM dev)
        |WHERE rd = (n + 1) // 2
        |ORDER BY event_type""".stripMargin),

    // kq67: day-grain cohorts; k is the exact integer day diff;
    // retention in exact integer ppm
    "kq67_retention" ->
      (envSql + """, e2 AS (
        |  SELECT "key" AS u, date_trunc('day', "timestamp") AS d
        |  FROM env),
        |fs AS (SELECT u, min(d) AS cohort FROM e2 GROUP BY 1),
        |act AS (SELECT DISTINCT u, d FROM e2),
        |j AS (SELECT a.u, fs.cohort,
        |        CAST(date_diff('day', CAST(fs.cohort AS DATE),
        |          CAST(a.d AS DATE)) AS INT) AS k
        |      FROM act a JOIN fs ON a.u = fs.u),
        |cells AS (SELECT cohort, k, CAST(count(DISTINCT u) AS BIGINT)
        |            AS n_active
        |          FROM j WHERE k BETWEEN 0 AND 6 GROUP BY 1, 2),
        |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
        |       FROM fs GROUP BY 1)
        |SELECT strftime(CAST(c.cohort AS DATE), '%Y-%m-%d')
        |    AS cohort_day,
        |  sz.n_users, c.k, c.n_active,
        |  CAST(c.n_active * 1000000 // sz.n_users AS BIGINT)
        |    AS retention_ppm
        |FROM cells c JOIN sz ON c.cohort = sz.cohort
        |ORDER BY cohort_day, c.k""".stripMargin),

    // kq66: the analyzer's DuckDB rendering (the x22 form), prefix
    // filter on the analyzed term, distinct postings, index-order top-N
    "kq66_terms_enum" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t AS term
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(regexp_split_to_array(lower(text),
        |            '[^a-z0-9]+'), t -> t <> '')) AS t
        |        FROM documents)
        |  WHERE t LIKE 's%')
        |SELECT term, CAST(count(*) AS BIGINT) AS n_docs
        |FROM toks GROUP BY 1 ORDER BY term LIMIT 10""".stripMargin,

    // kq65: identical register build (x94's 64-register geometry with
    // the 'uu:' salt), trailing-window register-max merge via the same
    // range join, estimator formula pinned as in x94
    "kq65_sliding_uniques" ->
      (envSql + """, e2 AS (
        |  SELECT date_trunc('hour', "timestamp") AS bucket, "key"
        |  FROM env),
        |r AS (SELECT bucket, h % 64 AS j,
        |        CASE WHEN h // 64 = 0 THEN 27
        |             ELSE 27 - length(bin(h // 64)) END AS rho
        |      FROM (SELECT bucket,
        |              ('0x' || substr(md5('uu:' || "key"), 1, 8))::BIGINT
        |                AS h
        |            FROM e2)),
        |reg AS (SELECT bucket, j, max(rho) AS m FROM r GROUP BY 1, 2),
        |bl AS (SELECT DISTINCT bucket AS b FROM e2),
        |mg AS (SELECT bl.b, reg.j, max(reg.m) AS m
        |       FROM bl JOIN reg
        |         ON reg.bucket BETWEEN bl.b - INTERVAL 23 HOURS AND bl.b
        |       GROUP BY 1, 2),
        |sk AS (SELECT b,
        |         CAST(sum(CAST(1 AS BIGINT) << CAST(27 - m AS INT))
        |              + (64 - count(*)) * 134217728 AS BIGINT)
        |           AS s_scaled,
        |         CAST(64 - count(*) AS BIGINT) AS v_zero
        |       FROM mg GROUP BY 1),
        |ex AS (SELECT bl.b,
        |         CAST(count(DISTINCT p."key") AS BIGINT) AS exact_uniques
        |       FROM bl JOIN (SELECT DISTINCT bucket, "key" FROM e2) p
        |         ON p.bucket BETWEEN bl.b - INTERVAL 23 HOURS AND bl.b
        |       GROUP BY 1),
        |est AS (SELECT sk.b, exact_uniques, v_zero, s_scaled,
        |          0.709 * 4096.0 * 134217728.0
        |            / CAST(s_scaled AS DOUBLE) AS e_raw
        |        FROM sk JOIN ex ON sk.b = ex.b)
        |SELECT b AS bucket, exact_uniques, v_zero, s_scaled,
        |  round(CASE WHEN e_raw <= 160.0 AND v_zero > 0
        |        THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
        |        ELSE e_raw END, 6) AS hll_est
        |FROM est ORDER BY bucket""".stripMargin),

    // kq102: kq65's register chain with NO exact leg — the serving
    // contract is estimate-only (the oracle re-derives the same HLL)
    "kq102_sliding_uniques_serve" ->
      (envSql + """, e2 AS (
        |  SELECT date_trunc('hour', "timestamp") AS bucket, "key"
        |  FROM env),
        |r AS (SELECT bucket, h % 64 AS j,
        |        CASE WHEN h // 64 = 0 THEN 27
        |             ELSE 27 - length(bin(h // 64)) END AS rho
        |      FROM (SELECT bucket,
        |              ('0x' || substr(md5('uu:' || "key"), 1, 8))::BIGINT
        |                AS h
        |            FROM e2)),
        |reg AS (SELECT bucket, j, max(rho) AS m FROM r GROUP BY 1, 2),
        |bl AS (SELECT DISTINCT bucket AS b FROM reg),
        |mg AS (SELECT bl.b, reg.j, max(reg.m) AS m
        |       FROM bl JOIN reg
        |         ON reg.bucket BETWEEN bl.b - INTERVAL 23 HOURS AND bl.b
        |       GROUP BY 1, 2),
        |sk AS (SELECT b,
        |         CAST(sum(CAST(1 AS BIGINT) << CAST(27 - m AS INT))
        |              + (64 - count(*)) * 134217728 AS BIGINT)
        |           AS s_scaled,
        |         CAST(64 - count(*) AS BIGINT) AS v_zero
        |       FROM mg GROUP BY 1),
        |est AS (SELECT b, v_zero, s_scaled,
        |          0.709 * 4096.0 * 134217728.0
        |            / CAST(s_scaled AS DOUBLE) AS e_raw
        |        FROM sk)
        |SELECT b AS bucket, v_zero, s_scaled,
        |  round(CASE WHEN e_raw <= 160.0 AND v_zero > 0
        |        THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
        |        ELSE e_raw END, 6) AS hll_est
        |FROM est ORDER BY bucket""".stripMargin),

    // kq105: the streamed registers' Update-mode fixpoint equals the
    // batch registers (values only grow; every increase emits), so the
    // streaming serving path replays to exactly kq102's estimate —
    // the identical oracle
    "kq105_sliding_uniques_stream" ->
      (envSql + """, e2 AS (
        |  SELECT date_trunc('hour', "timestamp") AS bucket, "key"
        |  FROM env),
        |r AS (SELECT bucket, h % 64 AS j,
        |        CASE WHEN h // 64 = 0 THEN 27
        |             ELSE 27 - length(bin(h // 64)) END AS rho
        |      FROM (SELECT bucket,
        |              ('0x' || substr(md5('uu:' || "key"), 1, 8))::BIGINT
        |                AS h
        |            FROM e2)),
        |reg AS (SELECT bucket, j, max(rho) AS m FROM r GROUP BY 1, 2),
        |bl AS (SELECT DISTINCT bucket AS b FROM reg),
        |mg AS (SELECT bl.b, reg.j, max(reg.m) AS m
        |       FROM bl JOIN reg
        |         ON reg.bucket BETWEEN bl.b - INTERVAL 23 HOURS AND bl.b
        |       GROUP BY 1, 2),
        |sk AS (SELECT b,
        |         CAST(sum(CAST(1 AS BIGINT) << CAST(27 - m AS INT))
        |              + (64 - count(*)) * 134217728 AS BIGINT)
        |           AS s_scaled,
        |         CAST(64 - count(*) AS BIGINT) AS v_zero
        |       FROM mg GROUP BY 1),
        |est AS (SELECT b, v_zero, s_scaled,
        |          0.709 * 4096.0 * 134217728.0
        |            / CAST(s_scaled AS DOUBLE) AS e_raw
        |        FROM sk)
        |SELECT b AS bucket, v_zero, s_scaled,
        |  round(CASE WHEN e_raw <= 160.0 AND v_zero > 0
        |        THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
        |        ELSE e_raw END, 6) AS hll_est
        |FROM est ORDER BY bucket""".stripMargin),

    // kq106: streamed percolation+throttle == batch match-then-chain.
    // The match legs are kq55's hand-translated KQL forms; the greedy
    // per-query chain is kq97's recursive CTE (min match >= previous
    // emission + period). m is MATERIALIZED: the recursive term's
    // LATERAL references it every round (the x75 BPE-oracle lesson).
    "kq106_percolate_stream" ->
      (envSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, m AS MATERIALIZED (
        |  SELECT 1 AS query_id, epoch_us("timestamp") AS us FROM env
        |  WHERE event_type = 'click' AND "value" >= 50
        |  UNION ALL
        |  SELECT 2, epoch_us("timestamp") FROM env
        |  WHERE event_type LIKE 'p%'
        |  UNION ALL
        |  SELECT 3, epoch_us("timestamp") FROM env
        |  WHERE list_contains(
        |          list_filter(regexp_split_to_array(lower(value_json),
        |                                            '[^a-z0-9]+'),
        |                      t -> t <> ''), 'tombstone')
        |  UNION ALL
        |  SELECT 4, epoch_us("timestamp") FROM env
        |  WHERE "value" < 10 OR event_type = 'signup'),
        |em AS (
        |  SELECT query_id, min(us) AS us FROM m GROUP BY query_id
        |  UNION ALL
        |  SELECT n.query_id, n.us FROM em
        |  JOIN LATERAL (SELECT e.query_id, min(e.us) AS us FROM m e
        |                WHERE e.query_id = em.query_id
        |                  AND e.us >= em.us + 21600000000
        |                GROUP BY e.query_id) n ON true)
        |SELECT CAST(query_id AS INT) AS query_id, us AS emitted_us
        |FROM em
        |ORDER BY query_id, emitted_us""".stripMargin),

    // kq112: the streamed composed pipeline == the batch replay of the
    // same chain — envelope, x70's hashed-linear gate on the JSON text
    // (the identical per-token md5 closed form), kq106's match legs
    // over the GATED rows, kq97's recursive greedy chain. The
    // exactly-once sink's replayed commit is proven by this equality:
    // a duplicated batch partition would break it.
    "kq112_stream_pipeline" ->
      (envSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, g AS MATERIALIZED (
        |  SELECT * FROM env
        |  WHERE CAST(list_sum(list_transform(string_split(value_json, ' '),
        |    t -> (('0x' || substr(md5(t), 1, 8))::BIGINT % 1024)
        |         * 131 % 997 - 498)) AS BIGINT) > 0),
        |m AS MATERIALIZED (
        |  SELECT 1 AS query_id, epoch_us("timestamp") AS us FROM g
        |  WHERE event_type = 'click' AND "value" >= 50
        |  UNION ALL
        |  SELECT 2, epoch_us("timestamp") FROM g
        |  WHERE event_type LIKE 'p%'
        |  UNION ALL
        |  SELECT 3, epoch_us("timestamp") FROM g
        |  WHERE list_contains(
        |          list_filter(regexp_split_to_array(lower(value_json),
        |                                            '[^a-z0-9]+'),
        |                      t -> t <> ''), 'tombstone')
        |  UNION ALL
        |  SELECT 4, epoch_us("timestamp") FROM g
        |  WHERE "value" < 10 OR event_type = 'signup'),
        |em AS (
        |  SELECT query_id, min(us) AS us FROM m GROUP BY query_id
        |  UNION ALL
        |  SELECT n.query_id, n.us FROM em
        |  JOIN LATERAL (SELECT e.query_id, min(e.us) AS us FROM m e
        |                WHERE e.query_id = em.query_id
        |                  AND e.us >= em.us + 21600000000
        |                GROUP BY e.query_id) n ON true)
        |SELECT CAST(query_id AS INT) AS query_id, us AS emitted_us
        |FROM em
        |ORDER BY query_id, emitted_us""".stripMargin),

    // kq64: the oracle aggregates RAW events straight to days — equality
    // with the hourly-then-daily rollup path is the mergeability proof
    "kq64_downsample" ->
      (envSql + """SELECT strftime(CAST("timestamp" AS DATE), '%Y-%m-%d')
        |    AS "day",
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(min(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS min_cents,
        |  CAST(max(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_cents
        |FROM env WHERE event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // kq62: identical integer cross-multiplication; DuckDB's HUGEINT
    // sums/products cast back to BIGINT
    "kq62_anomaly" ->
      (envSql + """, h AS (
        |  SELECT date_trunc('hour', "timestamp") AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM env GROUP BY 1),
        |h2 AS (SELECT bucket, n, CAST(hour(bucket) AS INT) AS hh FROM h),
        |p AS (SELECT hh, CAST(count(*) AS BIGINT) AS cnt,
        |        CAST(sum(n) AS BIGINT) AS s,
        |        CAST(sum(n * n) AS BIGINT) AS ss
        |      FROM h2 GROUP BY 1)
        |SELECT bucket, h2.hh, n, cnt, s,
        |  CAST(n * cnt - s AS BIGINT) AS dev,
        |  CAST(cnt * ss - s * s AS BIGINT) AS var_num,
        |  (n * cnt - s) * (n * cnt - s) > 9 * (cnt * ss - s * s)
        |    AS is_anomaly
        |FROM h2 JOIN p ON h2.hh = p.hh
        |ORDER BY bucket""".stripMargin),

    // kq63: decay numerator clamped positive BEFORE the floor division
    // so DuckDB `//` and Spark `div` agree
    "kq63_function_score" ->
      (envSql + """, m AS (SELECT max("timestamp") AS origin FROM env),
        |sc AS (
        |  SELECT uid,
        |    epoch_us(origin) - epoch_us("timestamp") AS age_us,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM env, m
        |  WHERE event_type = 'click' AND "value" >= 10)
        |SELECT uid, age_us, cents,
        |  CAST(greatest(604800000000 - age_us, 0) * 1000000
        |       // 604800000000 AS BIGINT) AS decay_ppm,
        |  CAST(cents * (greatest(604800000000 - age_us, 0) * 1000000
        |       // 604800000000) AS BIGINT) AS score
        |FROM sc
        |ORDER BY score DESC, uid LIMIT 20""".stripMargin),

    "kq59_geo_grid" -> graft.query.Geo.geoGridOracle,

    "kq60_geo_distance" -> graft.query.Geo.geoDistanceOracle,

    "kq107_geotile_grid" -> graft.query.Geo.geotileGridOracle,

    // kq110: the identical generated even-odd fragment (pure integer
    // comparisons + cross-products) runs verbatim in both engines.
    "kq110_geo_polygon" -> graft.query.Geo.geoPolygonOracle,
    "kq113_geo_multipolygon" -> graft.query.Geo.geoMultiPolygonOracle,

    "kq108_ip_prefix" ->
      """WITH ips AS (
        |  SELECT user_id,
        |    ('0x' || substr(md5('ip:' || CAST(user_id AS VARCHAR)), 1, 8))
        |      ::BIGINT AS ip_u32
        |  FROM events)
        |SELECT CAST(ip_u32 >> 24 AS VARCHAR) || '.' ||
        |    CAST((ip_u32 >> 16) % 256 AS VARCHAR) || '.0.0/16' AS prefix16,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  min(ip_u32) AS ip_min, max(ip_u32) AS ip_max
        |FROM ips GROUP BY 1
        |ORDER BY n_events DESC, prefix16 LIMIT 20""".stripMargin,

    // kq53: the exactly-once contract IS the oracle — an idempotent
    // replayed commit leaves the cross-batch rollup equal to the plain
    // one-shot batch aggregate over the events table.
    "kq53_stream_exactly_once" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS DOUBLE) / 100 AS sum_v
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // kq52: HUGEINT moment products mirror Spark's DECIMAL(38,0) path
    // (never wrap), output numerators CAST back to BIGINT; correlation
    // uses the pinned cov/sqrt(vx)/sqrt(vy) association over exact
    // integers and the zero-variance CASE yields NULL in both engines.
    "kq52_matrix_stats" ->
      (envSql + """, j AS (
        |  SELECT event_type,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
        |    hour("timestamp") AS y
        |  FROM env WHERE "value" IS NOT NULL),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(xc AS HUGEINT) * xc) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(xc AS HUGEINT) * y) AS sxy
        |  FROM j GROUP BY 1),
        |m AS (SELECT event_type, n,
        |    CAST(sx AS DOUBLE) / 100 / n AS mean_x,
        |    CAST(sy AS DOUBLE) / n AS mean_y,
        |    CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |         AS BIGINT) AS cov_num,
        |    CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |         AS BIGINT) AS varx_num,
        |    CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
        |         AS BIGINT) AS vary_num
        |  FROM g)
        |SELECT event_type, n, mean_x, mean_y, cov_num, varx_num, vary_num,
        |  CASE WHEN varx_num > 0 AND vary_num > 0
        |       THEN CAST(cov_num AS DOUBLE) / sqrt(CAST(varx_num AS DOUBLE))
        |            / sqrt(CAST(vary_num AS DOUBLE))
        |  END AS corr
        |FROM m ORDER BY event_type""".stripMargin),

    // kq85: same top-1 window on the Discover sort tuple; the triple
    // cents cast is the kq81 recipe
    "kq85_top_metrics" ->
      (envSql + """SELECT event_type, "timestamp" AS last_ts, last_cents
        |FROM (
        |  SELECT event_type, "timestamp",
        |    CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |         AS DECIMAL(18,0)) AS BIGINT) AS last_cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY "timestamp" DESC, "offset" DESC) AS rn
        |  FROM env WHERE event_type IS NOT NULL)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // kq86: sum(BIGINT) -> HUGEINT in DuckDB, cast back
    "kq86_multi_terms" ->
      (envSql + """SELECT event_type, "key" AS ukey, count(*) AS doc_count,
        |  CAST(sum(CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |       AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM env WHERE event_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY doc_count DESC, event_type, ukey LIMIT 10""".stripMargin),

    // kq87: identical first-seen + prefix-sum shape
    "kq87_cumulative_cardinality" ->
      (envSql + """, fs AS (
        |  SELECT "key", min(date_trunc('day', "timestamp")) AS bucket
        |  FROM env GROUP BY 1),
        |nu AS (SELECT bucket, count(*) AS new_users FROM fs GROUP BY 1),
        |d AS (SELECT DISTINCT date_trunc('day', "timestamp") AS bucket
        |      FROM env)
        |SELECT d.bucket, COALESCE(nu.new_users, 0) AS new_users,
        |  CAST(sum(COALESCE(nu.new_users, 0)) OVER (ORDER BY d.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM d LEFT JOIN nu USING (bucket) ORDER BY d.bucket""".stripMargin),

    // kq88: row-position lags over the hourly series, all integer
    "kq88_serial_diff" ->
      (envSql + """, h AS (
        |  SELECT date_trunc('hour', "timestamp") AS bucket, count(*) AS n
        |  FROM env GROUP BY 1)
        |SELECT bucket, n,
        |  n - lag(n, 24) OVER (ORDER BY bucket) AS diff24,
        |  n - 2 * lag(n, 1) OVER (ORDER BY bucket)
        |    + lag(n, 2) OVER (ORDER BY bucket) AS accel
        |FROM h ORDER BY bucket""".stripMargin),

    // kq89: running peak then max(peak - cents), exact integer cents
    "kq89_scripted_metric" ->
      (envSql + """, c AS (
        |  SELECT event_type,
        |    CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |         AS DECIMAL(18,0)) AS BIGINT) AS cents,
        |    max(CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |         AS DECIMAL(18,0)) AS BIGINT)) OVER (
        |      PARTITION BY event_type ORDER BY "timestamp", "offset"
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM env WHERE event_type IS NOT NULL)
        |SELECT event_type, count(*) AS n_events,
        |  max(peak - cents) AS max_drawdown_cents
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // kq90: same relative selector, ppm normalize, and rank pagination
    "kq90_bucket_pipeline" ->
      (envSql + """, h AS (
        |  SELECT date_trunc('hour', "timestamp") AS bucket, count(*) AS n,
        |    CAST(sum(CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |         AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM env WHERE event_type IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(n) AS max_n FROM h),
        |sel AS (SELECT bucket, n, sum_cents,
        |    (n * 1000000) // max_n AS n_ppm
        |  FROM h, mx WHERE n * 2 >= max_n),
        |rk AS (SELECT *,
        |    row_number() OVER (ORDER BY sum_cents DESC, bucket) AS "rank"
        |  FROM sel)
        |SELECT bucket, n, sum_cents, n_ppm, CAST("rank" AS INT) AS "rank"
        |FROM rk WHERE "rank" > 2 AND "rank" <= 12
        |ORDER BY "rank"""".stripMargin),

    // kq91: day-bucket counts/revenue rescaled per week (x7, exact)
    "kq91_rate" ->
      (envSql + """SELECT event_type,
        |  date_trunc('day', "timestamp") AS bucket, count(*) AS n,
        |  CAST(sum(CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |       AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents,
        |  count(*) * 7 AS n_per_week,
        |  CAST(sum(CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |       AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) * 7 AS cents_per_week
        |FROM env WHERE event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // kq92: five-number summary + IQR on exact integer cents; the
    // quarter-fraction interpolations are FP-exact in both engines
    "kq92_boxplot" ->
      (envSql + """, c AS (
        |  SELECT event_type,
        |    CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |         AS DECIMAL(18,0)) AS BIGINT) AS cents
        |  FROM env WHERE event_type IS NOT NULL)
        |SELECT event_type, count(*) AS n,
        |  min(cents) AS min_cents,
        |  quantile_cont(cents, 0.25) AS p25_cents,
        |  quantile_cont(cents, 0.5) AS p50_cents,
        |  quantile_cont(cents, 0.75) AS p75_cents,
        |  max(cents) AS max_cents,
        |  quantile_cont(cents, 0.75) - quantile_cont(cents, 0.25)
        |    AS iqr_cents
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),

    // kq93: DuckDB range(a, b) is end-exclusive and empty when b <= a,
    // so short docs need no guard; 1-based list indexing mirrors the
    // Spark 0-based form shifted by one. Window rows re-sort by
    // fp + 2*sec; rows 21-50 keep first-pass order (score = fp there).
    "kq93_rescore" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t = 'merge')) AS BIGINT) AS fp,
        |    CAST(coalesce(list_sum(list_transform(
        |      range(1, len(string_split(text, ' '))),
        |      i -> CASE WHEN string_split(text, ' ')[i] = 'merge' AND
        |                     string_split(text, ' ')[i + 1] = 'slow'
        |                THEN 1 ELSE 0 END)), 0) AS BIGINT) AS sec0
        |  FROM documents),
        |f50 AS (
        |  SELECT *, row_number() OVER (ORDER BY fp DESC, doc_id) AS rn
        |  FROM sc QUALIFY rn <= 50),
        |fin AS (
        |  SELECT doc_id, fp,
        |    CASE WHEN rn <= 20 THEN sec0 END AS sec,
        |    CASE WHEN rn <= 20 THEN fp + 2 * sec0 END AS combined,
        |    row_number() OVER (ORDER BY
        |      CASE WHEN rn <= 20 THEN 0 ELSE 1 END,
        |      CASE WHEN rn <= 20 THEN fp + 2 * sec0 ELSE fp END DESC,
        |      doc_id) AS final_rank
        |  FROM f50)
        |SELECT doc_id, fp, sec, combined, CAST(final_rank AS BIGINT)
        |  AS final_rank
        |FROM fin ORDER BY final_rank""".stripMargin,

    // kq100: boundary-aligned cutoff → disjoint tiers; both tiers are
    // the same 6 h aggregate, tagged by which storage answered them
    "kq100_tiered_rollup" ->
      (envSql + """, c AS (
        |  SELECT (epoch_us(max("timestamp")) // 21600000000)
        |    * 21600000000 - 28 * 21600000000 AS cut_us
        |  FROM env WHERE event_type IS NOT NULL),
        |b AS (
        |  SELECT (epoch_us("timestamp") // 21600000000) * 21600000000
        |      AS bucket_us,
        |    event_type,
        |    CAST(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS BIGINT) AS cents
        |  FROM env WHERE event_type IS NOT NULL),
        |g AS (
        |  SELECT bucket_us, event_type, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM b GROUP BY 1, 2)
        |SELECT bucket_us, event_type, n, cents,
        |  CASE WHEN bucket_us >= c.cut_us THEN 'raw' ELSE 'rollup' END
        |    AS tier
        |FROM g, c ORDER BY bucket_us, event_type""".stripMargin),

    // kq98: same kq6 latest-per-key window over the offset-prefix
    // replay; the current head joins back to flag post-cutoff drift
    "kq98_pit_state" ->
      (envSql + """, cut AS (SELECT max("offset") // 2 AS cut FROM env),
        |pit AS (SELECT * FROM (
        |    SELECT env.*, row_number() OVER (PARTITION BY topic, "key"
        |      ORDER BY "timestamp" DESC, "offset" DESC) AS rn
        |    FROM env, cut WHERE "offset" <= cut) WHERE rn = 1),
        |cur AS (SELECT * FROM (
        |    SELECT env.*, row_number() OVER (PARTITION BY topic, "key"
        |      ORDER BY "timestamp" DESC, "offset" DESC) AS rn
        |    FROM env) WHERE rn = 1)
        |SELECT p."key", p.topic, p."offset" AS pit_offset,
        |  p."timestamp" AS pit_ts, c."offset" AS cur_offset,
        |  CASE WHEN c."offset" > p."offset" THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS changed_after
        |FROM pit p JOIN cur c ON p."key" = c."key" AND p.topic = c.topic
        |ORDER BY p.topic, p."key"""".stripMargin),

    // kq97: the greedy chain as a recursive CTE — each emission is the
    // MIN event >= previous emission + period, per user. (A list_reduce
    // fold was tried first and REJECTED: DuckDB 1.0's grouped
    // list_reduce leaks accumulator state across rows — user A's
    // emissions contaminated user B's. Aggregating `er` inside the
    // recursive term's LATERAL is legal; only aggregates over the
    // recursive relation itself are restricted.)
    "kq97_alert_throttle" ->
      """WITH RECURSIVE er AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'error'),
        |em AS (
        |  SELECT user_id, min(us) AS us FROM er GROUP BY user_id
        |  UNION ALL
        |  SELECT n.user_id, n.us FROM em
        |  JOIN LATERAL (SELECT e.user_id, min(e.us) AS us FROM er e
        |                WHERE e.user_id = em.user_id
        |                  AND e.us >= em.us + 21600000000
        |                GROUP BY e.user_id) n ON true)
        |SELECT user_id, us AS emitted_us FROM em
        |ORDER BY user_id, emitted_us""".stripMargin,

    // kq96: shard = envelope partition; per-shard top-2, coordinator
    // merge, err = sum of last-reported counts of non-reporting shards
    "kq96_terms_shard_error" ->
      (envSql + """, e AS (SELECT "partition" AS shard, event_type
        |  FROM env WHERE event_type IS NOT NULL),
        |ps AS (SELECT shard, event_type, count(*) AS n
        |  FROM e GROUP BY 1, 2),
        |rep AS (SELECT * FROM (
        |    SELECT shard, event_type, n, row_number() OVER (
        |      PARTITION BY shard ORDER BY n DESC, event_type) AS rk
        |    FROM ps) WHERE rk <= 2),
        |lastn AS (SELECT shard, min(n) AS last_n FROM rep GROUP BY 1),
        |mg AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS merged_n
        |  FROM rep GROUP BY 1),
        |er AS (SELECT c.event_type, CAST(sum(l.last_n) AS BIGINT) AS err_ub
        |  FROM (SELECT DISTINCT event_type FROM mg) c
        |  CROSS JOIN lastn l
        |  LEFT JOIN rep r ON r.shard = l.shard
        |    AND r.event_type = c.event_type
        |  WHERE r.shard IS NULL GROUP BY 1),
        |ex AS (SELECT event_type, count(*) AS exact_n FROM e GROUP BY 1)
        |SELECT mg.event_type, mg.merged_n,
        |  COALESCE(er.err_ub, 0) AS err_ub, ex.exact_n,
        |  CASE WHEN ex.exact_n >= mg.merged_n AND
        |            ex.exact_n <= mg.merged_n + COALESCE(er.err_ub, 0)
        |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bounded
        |FROM mg LEFT JOIN er USING (event_type)
        |JOIN ex USING (event_type)
        |ORDER BY mg.merged_n DESC, mg.event_type""".stripMargin),

    // kq95: the q31 MIN cascade + the until rule as an EXISTS over the
    // strictly-open (t1, t3) interval
    "kq95_eql_until" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY 1),
        |c AS (SELECT user_id, t1, t2, t3
        |      FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id))
        |SELECT user_id, t1, t2, t3,
        |  CASE WHEN EXISTS (SELECT 1 FROM e
        |                    WHERE e.user_id = c.user_id
        |                      AND e.event_type = 'error'
        |                      AND e.us > c.t1 AND e.us < c.t3)
        |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS aborted
        |FROM c ORDER BY user_id""".stripMargin,

    "kq9_sql_surface" ->
      (envSql + """SELECT event_type, count(*) AS n,
        |       count(DISTINCT "key") AS n_keys,
        |       min("offset") AS first_offset, max("offset") AS last_offset
        |FROM env WHERE event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
