package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Envelope

/**
 * The query surface of the engine — the capabilities Kibana/ES provide over
 * the sunk changelog in the reference (reference: README.md:26-42 and the
 * attachments screenshots), as composable DataFrame operations over an envelope
 * frame. Every function RETURNS a DataFrame (no collect, no driver-side
 * row work): callers keep composing, and at cluster scale the plan stays
 * fully distributed with filters pushed to the scan.
 */
object LogQueries {

  /** The Kibana search-box surface: parse a KQL-ish query string into a
    * Catalyst predicate (see [[Kql]] for the grammar). */
  def kql(query: String): Column = Kql.parse(query)

  /**
   * Q1a — Discover, log view: time-descending page over a time range
   * (reference: README.md:28-30, attachments/discover.png). `orderBy+limit`
   * plans as `TakeOrderedAndProject` — a distributed top-k, NOT a full sort:
   * each partition keeps only `n` rows, so this survives a 100 TB scan.
   * Ties on timestamp are broken by (topic, partition, offset) so pagination
   * is deterministic.
   */
  def discoverPage(env: DataFrame, from: Column, to: Column, n: Int): DataFrame =
    env.where(col("timestamp").between(from, to))
      .orderBy(col("timestamp").desc, col("topic"), col("partition"),
        col("offset").desc)
      .limit(n)

  /**
   * Q1b — Discover, date histogram: bucketed counts over a time range
   * (the bar chart atop Kibana Discover). Partial+final hash aggregation is
   * Catalyst-automatic; the only shuffle is on the (truncated) bucket key.
   */
  def discoverHistogram(env: DataFrame, bucket: String): DataFrame =
    env.groupBy(date_trunc(bucket, col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /**
   * Q1a' — Discover, NEXT page via ES `search_after`: keyset pagination on
   * the sort tuple (timestamp DESC, offset DESC) instead of from+size. The
   * cursor is a strict tuple-inequality predicate, so the scan PRUNES
   * everything at-or-after the cursor (PushedFilters on timestamp) and the
   * plan stays `TakeOrderedAndProject` — page N costs O(page), where
   * offset paging costs O(N·page) and ES hard-caps it at 10k hits. This is
   * the only pagination that survives deep scrolls over a 100 TB changelog.
   */
  def searchAfter(env: DataFrame, afterTs: Column, afterOffset: Column,
      n: Int): DataFrame =
    env.where(col("timestamp") < afterTs ||
        (col("timestamp") === afterTs && col("offset") < afterOffset))
      .orderBy(col("timestamp").desc, col("offset").desc)
      .limit(n)

  /**
   * ES `composite` aggregation — the ONLY ES agg that can page through ALL
   * buckets of a multi-source group-by (terms aggs truncate to top-N and
   * shard_size approximation): buckets stream in (src1, src2) key order,
   * each page resuming strictly after the `after_key` cursor. Spark-first
   * shape: the cursor is a tuple-inequality on the GROUPING keys, which
   * Catalyst pushes below the aggregate to the scan, and orderBy+limit on
   * top is a distributed top-k (`TakeOrderedAndProject`) — each page
   * aggregates only the key range it needs, never materializing the full
   * bucket set. That is exactly why composite paging scales where
   * from+size on terms aggs does not.
   */
  def compositeAgg(env: DataFrame, src1: String, src2: String,
      after: Option[(String, String)], pageSize: Int): DataFrame = {
    val buckets = env
      .where(col(src1).isNotNull && col(src2).isNotNull)
      .groupBy(col(src1), col(src2))
      .agg(count(lit(1)).as("doc_count"))
    val paged = after match {
      case Some((a1, a2)) => buckets.where(col(src1) > lit(a1) ||
        (col(src1) === lit(a1) && col(src2) > lit(a2)))
      case None => buckets
    }
    paged.orderBy(col(src1), col(src2)).limit(pageSize)
  }

  /**
   * ES/Kibana `auto_date_histogram` (what Lens draws by default): pick the
   * SMALLEST interval from the standard rounding ladder that keeps the
   * bucket count within `maxBuckets`, then date-histogram at that rung.
   * The min/max bounds are ONE 1-row aggregate broadcast back over the
   * scan (the same scalar-attach idiom as TF-IDF's N) — two passes, no
   * driver round-trip, no collect. All arithmetic is on floor-second
   * epochs (exact integers in both engines), so the rung choice and the
   * bucket edges are deterministic cross-engine.
   */
  def autoDateHistogram(env: DataFrame, maxBuckets: Int): DataFrame = {
    // ES's fixed rounding ladder (1m 5m 15m 1h 3h 12h 1d 7d), in seconds.
    val ladder = Seq(60L, 300L, 900L, 3600L, 10800L, 43200L, 86400L, 604800L)
    val sec = col("timestamp").cast("long")
    val nBuckets = (rung: Long) =>
      floor(col("hi") / rung).cast("long") - floor(col("lo") / rung).cast("long") + 1
    val chosen = ladder.init.foldRight(lit(ladder.last)) { (rung, alt) =>
      when(nBuckets(rung) <= maxBuckets, lit(rung)).otherwise(alt)
    }
    val params = env.agg(min(sec).as("lo"), max(sec).as("hi"))
      .select(chosen.as("interval_sec"))
    env.crossJoin(broadcast(params))
      .groupBy((floor(sec / col("interval_sec")).cast("long") *
        col("interval_sec")).as("bucket_sec"), col("interval_sec"))
      .agg(count(lit(1)).as("n"))
      .select(timestamp_seconds(col("bucket_sec")).as("bucket"),
        col("interval_sec"), col("n"))
      .orderBy(col("bucket"))
  }

  /**
   * ES `extended_stats` aggregation per event type: count/min/max/sum/avg
   * plus population variance and std-dev. Cross-engine determinism:
   * `value` has exactly 2 decimal places, so everything reduces to EXACT
   * integer arithmetic on cents — s1 = Σv_c, s2 = Σv_c², accumulated and
   * multiplied as DECIMAL so the moment products n·s2 and s1² can NEVER
   * silently wrap (with |v_c| ≤ 10⁴, int64 products would overflow at
   * only ~3·10⁵ rows per group; decimal keeps them exact to ~10¹² rows,
   * and Spark nulls rather than wraps beyond that) — then
   * var = (n·s2 − s1²)/(n²·10⁴) evaluates as ONE IEEE double division of
   * an exact integer, identical bit-for-bit in both engines;
   * std = sqrt(var) is correctly rounded by contract in both. One hash
   * aggregate, no window, no second pass.
   */
  def extendedStats(env: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)")
    val nDec = col("n").cast("decimal(19,0)")
    env.where(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value").cast("decimal(18,2)")).cast("double").as("min_v"),
        max(col("value").cast("decimal(18,2)")).cast("double").as("max_v"),
        sum(cents).as("s1"),
        sum((cents * cents).cast("decimal(28,0)")).as("s2"))
      .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
        (col("s1").cast("double") / 100).as("sum_v"),
        (col("s1").cast("double") / 100 / col("n")).as("avg_v"),
        ((nDec * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n").cast("double") * col("n") * 10000)).as("var_pop"))
      .withColumn("std_pop", sqrt(col("var_pop")))
      .orderBy(col("event_type"))
  }

  /**
   * ES `matrix_stats` aggregation (kq52): the multi-field correlation
   * matrix Kibana's transform/ML screens draw — per event-type bucket,
   * the joint second-order moments of (value, hour-of-day) and their
   * Pearson correlation. ES computes mean/variance/covariance/correlation
   * per field pair in one streaming pass; the Spark-first shape is the
   * same single hash aggregate of Σx, Σy, Σx², Σy², Σxy.
   *
   * Cross-engine determinism is [[extendedStats]]'s recipe extended to
   * the CROSS moment: cents (exact int64) × hour (0–23) accumulated as
   * DECIMAL, the covariance/variance NUMERATORS n·Σxy − ΣxΣy emitted as
   * EXACT int64 (the moments a consumer would feed into any downstream
   * math), and the only doubles — means and the correlation — are each
   * ONE fixed-shape IEEE expression over those exact integers
   * (`cov / sqrt(vx) / sqrt(vy)`, the [[graft.functions.CosineSimilarity]]
   * association), bit-identical in both engines. Zero-variance groups
   * yield a null correlation rather than ±inf.
   */
  def matrixStats(env: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("long")
    val nDec = col("n").cast("decimal(38,0)")
    val sxDec = col("sx").cast("decimal(38,0)")
    val syDec = col("sy").cast("decimal(38,0)")
    env.where(col("value").isNotNull)
      .select(col("event_type"), cents.as("xc"),
        hour(col("timestamp")).cast("long").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("xc")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("xc") * col("xc")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("xc") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .select(col("event_type"), col("n"),
        (col("sx").cast("double") / 100 / col("n")).as("mean_x"),
        (col("sy").cast("double") / col("n")).as("mean_y"),
        (nDec * col("sxy") - sxDec * col("sy")).cast("long").as("cov_num"),
        (nDec * col("sxx") - sxDec * col("sx")).cast("long").as("varx_num"),
        (nDec * col("syy") - syDec * col("sy")).cast("long").as("vary_num"))
      .withColumn("corr",
        when(col("varx_num") > 0 && col("vary_num") > 0,
          col("cov_num").cast("double")
            / sqrt(col("varx_num").cast("double"))
            / sqrt(col("vary_num").cast("double"))))
      .orderBy(col("event_type"))
  }

  /**
   * Kibana TSVB `bucket_script`: a per-bucket expression over sibling
   * metrics — here the error rate of each hourly bucket, emitted in parts
   * per million via INTEGER floor-division (`errors·10⁶ div total`), so
   * both engines compute the identical int64 — no cross-engine
   * decimal-division scale rules, no double rounding ties. Still one hash
   * aggregate; the script is a projection ABOVE it (exactly how ES
   * evaluates bucket_script: over bucket results, not documents).
   */
  def bucketScript(env: DataFrame): DataFrame =
    env.groupBy(date_trunc("hour", col("timestamp")).as("bucket"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("errors"))
      .withColumn("error_ppm",
        expr("errors * 1000000L div total"))
      .orderBy(col("bucket"))

  /**
   * ES `adjacency_matrix` aggregation: given named filters, the doc count
   * of every filter AND every pairwise intersection — Kibana's
   * relationship-graph data source. ES evaluates each doc against all
   * filters in one pass; the Spark-first shape is identical: ONE scan, one
   * 1-row conditional aggregate (`sum(case …)`) per matrix cell — no
   * joins, no self-products, trivially 100 TB-safe.
   */
  def adjacencyMatrix(env: DataFrame): DataFrame = {
    val a = col("event_type") === "click"
    val b = col("event_type") === "purchase"
    val c = col("value") > 20
    def cell(p: Column, name: String) =
      sum(when(p, 1L).otherwise(0L)).as(name)
    env.agg(cell(a, "a"), cell(b, "b"), cell(c, "c"),
      cell(a && c, "a_and_c"), cell(b && c, "b_and_c"))
  }

  /**
   * ES `percentile_ranks` aggregation — the inverse of `percentiles`
   * (kq14): for each given bound, the percentage of values at or below
   * it. One conditional 1-row aggregate (the kq15 filters-agg shape): a
   * single scan counts every bound, and each percentage is one IEEE
   * division of exact integers — deterministic cross-engine, no
   * interpolation, no TDigest approximation needed at any scale.
   */
  def percentileRanks(env: DataFrame,
      bounds: Seq[Int] = Seq(10, 25, 50)): DataFrame = {
    val cells = bounds.map(b =>
      sum(when(col("value") <= b, 1L).otherwise(0L)).as(s"n_le_$b"))
    val base = env.where(col("value").isNotNull)
      .agg(count(lit(1)).as("n"), cells: _*)
    bounds.foldLeft(base) { (df, b) =>
      df.withColumn(s"pct_$b",
        col(s"n_le_$b").cast("double") * 100 / col("n"))
    }
  }

  /**
   * ES `weighted_avg` aggregation: the average of `value` weighted by a
   * field of the JSON payload (`props.k`) — Kibana's weighted-average
   * metric over a document-supplied weight. Exact int64 arithmetic:
   * value in cents × integer weight, both sums exact, ONE final IEEE
   * division — bit-identical across engines. The JSON extraction happens
   * in the scan-side projection; one hash aggregate total.
   */
  def weightedAvg(env: DataFrame): DataFrame = {
    val vc = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val w = get_json_object(col("props"), "$.k").cast("long")
    env.where(col("value").isNotNull && col("props").isNotNull)
      .select(col("event_type"), vc.as("vc"), w.as("w"))
      .where(col("w").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc") * col("w")).as("swv"),
        sum(col("w")).as("sw"))
      .select(col("event_type"), col("n"), col("sw"),
        (col("swv").cast("double") / 100 / col("sw")).as("weighted_avg"))
      .orderBy(col("event_type"))
  }

  /**
   * ES/Kibana `categorize_text` aggregation (the Discover "Patterns" tab
   * and the ML log-categorization viz): cluster messages by their token
   * PATTERN — the analyzed token stream with number runs dropped,
   * truncated to the first `maxTokens` shape tokens — and count each
   * category with an example doc. One projection + one hash aggregate;
   * the per-row lambda walks a short bounded token array (messages, not
   * corpora), so the interpreted higher-order functions stay off any hot
   * loop. Deterministic: the category key is a pure function of the
   * message, the example is the MIN uid.
   */
  def categorizeText(env: DataFrame, field: String = "value_json",
      maxTokens: Int = 5): DataFrame = {
    val toks = graft.functions.AnalyzeTokens.analyze(col(field))
    val shape = filter(toks, t => !(t rlike "^[0-9]+$"))
    env.withColumn("category",
        array_join(slice(shape, 1, maxTokens), " "))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("doc_count"), min(col("uid")).as("example_uid"))
      .orderBy(col("category"))
  }

  /**
   * Q2 — Search key across topics (reference: README.md:32-34,
   * attachments/search_for_key.png). A plain equality filter: over the
   * sink read it is pushed down to the parquet scan (PushedFilters) with
   * no shuffle and no join.
   */
  def searchKey(env: DataFrame, key: String): DataFrame =
    env.where(col("key") === key)

  /**
   * Q3 — Search key AND topic (reference: README.md:36-38). With the sink
   * partitioned by topic, the topic predicate is PARTITION-pruned — at
   * 100 TB only the one topic's files are listed, let alone read.
   */
  def searchKeyTopic(env: DataFrame, key: String, topic: String): DataFrame =
    env.where(col("key") === key && col("topic") === topic)

  /**
   * Q4 — Search on a message field across topics (reference:
   * README.md:40-42, attachments/search_for_message_field.png). Structured
   * variant: predicate on a typed payload field nested in `message`.
   */
  def searchField(env: DataFrame, fieldPath: String, value: Any): DataFrame =
    env.where(col(s"message.$fieldPath") === lit(value))

  /**
   * Q4 (heterogeneous variant) — full-payload search via the JSON-string
   * field, the reference's trick that makes cross-schema search work (T1;
   * payload is indexed both structured and as text). `path` is a JSON path
   * like `$.k`.
   */
  def searchJson(env: DataFrame, valueJsonField: String, path: String,
      value: String): DataFrame =
    env.where(get_json_object(col(s"message.$valueJsonField"), path) === value)

  /**
   * Q5 — Tombstone visibility: deletions appear as rows (reference:
   * README.md:12; convert/.../TombstoneAwareAvroConverter.java:27-30).
   */
  def tombstones(env: DataFrame, valueJsonField: String): DataFrame =
    env.where(col(s"message.$valueJsonField") === Envelope.Tombstone)

  /**
   * Latest-state-per-key compaction view — "ES should reflect state in
   * kafka as close as possible" (reference: README.md:13) realized as a
   * window function: the newest record per (topic, key) by (offset within
   * partition). One shuffle on the window key; at scale this is the
   * standard log-compaction pattern and benefits from AQE skew handling
   * for hot keys.
   */
  def latestStatePerKey(env: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("topic"), col("key"))
      .orderBy(col("timestamp").desc, col("offset").desc)
    env.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }
}
