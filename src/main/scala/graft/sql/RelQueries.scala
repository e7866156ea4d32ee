package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ingest.Tables

/**
 * The relational query surface over the sunk data — SURVEY.md §2.3's
 * "free via the SQL surface" operators, exercised one category at a time
 * (aggregation, joins broadcast+shuffle, window functions, sorts/top-k,
 * set ops, string/date/math functions, grouping sets, semi/anti joins,
 * arrays). The reference exposes only Kibana's query surface; our engine
 * strictly dominates it with full Spark SQL (SURVEY.md §2.3), and each
 * query here is hash-checked against DuckDB.
 *
 * Cross-engine determinism rules used throughout (and to be reused by any
 * new query):
 *  - money sums go through DECIMAL(18,2)/(18,4) casts: decimal addition is
 *    exact and associative, so Spark's partial-aggregation order and
 *    DuckDB's scan order cannot produce last-ulp drift; the final value is
 *    cast back to DOUBLE for a stable comparison dtype.
 *  - irrational functions (sqrt/ln/pow) and double averages are rounded
 *    (4-6 digits) — libm implementations may differ in the last ulp.
 *  - every query ends in a deterministic ORDER BY with a unique tiebreak.
 *
 * Scale posture: dimension joins use explicit `broadcast()`; the fact-fact
 * join shuffles on the join key only after filter pushdown; aggregations
 * rely on Catalyst's partial+final hash aggregation. No collects, no UDFs —
 * everything stays inside whole-stage codegen.
 */
object RelQueries {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Exact, order-independent money sum surfaced as DOUBLE. */
  private def moneySum(c: Column): Column = sum(dec2(c)).cast("double")

  // ---------------------------------------------------------------- queries

  /** Aggregation: TPC-H-Q1-style pricing summary (hash agg, partial+final). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        // exact average: decimal sum -> double, / count. A plain double
        // avg can land on a round-half boundary where engine sum order
        // flips the last digit (seen at sf0.001).
        round(sum(dec2(col("l_quantity"))).cast("double")
          / count(lit(1)), 4).as("avg_qty"),
        round(sum(dec2(col("l_extendedprice"))).cast("double")
          / count(lit(1)), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Sort / top-k: `orderBy+limit` plans as TakeOrderedAndProject — each
    * partition retains k rows; no global sort even at 100 TB. */
  def q2TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Star joins: fact → dims, every dim explicitly broadcast (region 5,
    * nation 25, customer O(SF) rows — all tiny next to orders). At scale
    * this is the canonical broadcast-hash-join chain: zero shuffle of the
    * fact table. */
  def q3JoinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Fact-fact join: lineitem ⋈ orders on the join key, shuffled once;
    * the year filter is pushed below the join so only 1997 orders shuffle.
    * AQE picks shuffle-hash vs sort-merge at runtime. */
  def q4JoinLarge(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val orders = Tables.load(spark, dir, "orders")
      .where(year(col("o_orderdate")) === 1997)
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** Window functions: rank / row_number / running sum per customer.
    * One shuffle on the window partition key. */
  def q5Window(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("cum_spend",
        sum(dec2(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"), col("rnk"), col("cum_spend"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Set operations: symmetric difference of the 1997 vs 1998 buyer sets
    * (EXCEPT ∪ EXCEPT, with DISTINCT semantics). */
  def q6SetOps(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    def buyers(y: Int) =
      orders.where(year(col("o_orderdate")) === y)
        .select(col("o_custkey")).distinct()
    val only97 = buyers(1997).except(buyers(1998))
      .withColumn("bucket", lit("1997_only"))
    val only98 = buyers(1998).except(buyers(1997))
      .withColumn("bucket", lit("1998_only"))
    only97.unionByName(only98).orderBy(col("bucket"), col("o_custkey"))
  }

  /** String functions: case, substring, length, replace, concat, LIKE. */
  def q7String(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .where(col("p_name").like("%a%"))
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(col("p_brand")).as("lbrand"),
        substring(col("p_type"), 1, 5).as("type5"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        col("p_name").contains("er").as("has_er"))
      .orderBy(col("p_partkey"))

  /** Date/time functions: extract, trunc, diff, last_day, quarter. */
  def q8DateTime(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .where(col("o_orderkey") < 200)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since"),
        // DATE-typed columns surface as python `date` from Spark parquet but
        // datetime64 from DuckDB — string form is comparator-proof.
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"))
      .orderBy(col("o_orderkey"))

  /** Math functions: sqrt/ln/pow/abs/ceil/floor/mod (rounded — libm ulp). */
  def q9Math(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .where(col("l_orderkey") < 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        round(pow(lit(1.0) + col("l_discount"), 2), 6).as("pow_disc"),
        round(abs(col("l_tax") - 0.05), 6).as("abs_tax"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        (col("l_partkey") % 7).as("mod_part"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Distinct aggregation + HAVING. */
  def q10DistinctHaving(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"),
        round(sum(dec2(col("c_acctbal"))).cast("double")
          / count(lit(1)), 4).as("avg_bal"))
      .where(col("n_customers") > 5)
      .orderBy(col("c_mktsegment"))

  /** Grouping sets: ROLLUP over (returnflag, linestatus) with subtotal and
    * grand-total rows. */
  def q11Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(moneySum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Semi join: customers having ≥1 high-value order (EXISTS). */
  def q12Semi(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val big = Tables.load(spark, dir, "orders")
      .where(col("o_totalprice") > 200000)
    customer.join(big, customer("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Anti join: customers with no orders at all (NOT EXISTS). */
  def q13Anti(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders")
    customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Array functions over the embeddings table: size, element access,
    * L2 norm via an in-order fold (same summation order as DuckDB's
    * list_sum, so doubles match exactly; rounded anyway for sqrt). */
  def q14Array(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .where(col("vec_id") < 100)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 6).as("l2_norm"),
        col("label"))
      .orderBy(col("vec_id"))

  /** Map-typed payload access: the schemaless `Map` path of the reference
    * (transform/.../InsertKey.java:81-83) — parse the JSON props into a
    * typed map and operate on keys/values. */
  def q15Map(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("m", from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
    ev.select(
        col("event_id"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys"),
        element_at(col("m"), "k").as("k_val"),
        size(map_keys(col("m"))).cast("long").as("n_keys"))
      .where(col("event_id") < 500)
      .orderBy(col("event_id"))
  }

  /** Typed-Aggregator UDAF (geometric mean of quantity per return flag):
    * the Aggregator[IN,BUF,OUT] surface with map-side partial merge. */
  def q16TypedAgg(spark: SparkSession, dir: String): DataFrame = {
    val geoMean = udaf(new graft.functions.GeoMean())
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(geoMean(col("l_quantity")), 4).as("geo_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Pivot: per-user event-type counts as columns (wide-table reshape). */
  def q17Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
    types.foldLeft(p)((df, t) =>
        df.withColumn(t, coalesce(col(s"`$t`"), lit(0L))))
      .orderBy(col("user_id"))
  }

  /** Grouping sets: CUBE over (returnflag, linestatus). */
  def q18Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(moneySum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Deterministic hash sampling — the reproducible train/eval split of a
    * data pipeline: md5 of the row key selects a stable 1/8 sample, the
    * same rows on every engine and every run (unlike TABLESAMPLE). */
  def q19HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .withColumn("h", substring(md5(concat(
        col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")).cast("binary")), 1, 1))
      .where(col("h").isin("0", "1"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Sketches: HLL distinct-count + quantile estimates. Engines implement
    * different sketch algorithms, so the sketch VALUES can't be compared
    * across engines — instead the query emits the exact values plus
    * booleans asserting the sketch error bounds (HLL within 15% of exact —
    * 3× the default 5% relative SD; approx-median within 2.0 of the exact
    * interpolated median). The booleans hold for ANY partial-aggregate
    * merge order, so the entry is deterministic AND oracle-checkable: the
    * DuckDB side recomputes the exact values and asserts TRUE — if
    * Spark's sketches ever left their error envelope the hash would
    * mismatch. */
  def q20Sketch(spark: SparkSession, dir: String): DataFrame = {
    // Exact and sketch legs aggregate SEPARATELY and join on the 3-row
    // group key: mixing countDistinct with the sketch buffers in one
    // Aggregate made the planner route approx_count_distinct's HLL and
    // percentile_approx's QuantileSummaries buffers through the
    // distinct-aggregate Expand (every row duplicated through the
    // shuffle, sketch buffers merged over the expanded rows — measured
    // 4.4 s vs 2.0 s split at sf0.1). Split, the sketch leg partial-
    // aggregates map-side (sketches merge; shuffles KBs, the point of
    // sketches at 100 TB) and only the exact leg pays the distinct
    // Expand. Values and output schema are unchanged.
    val li = Tables.load(spark, dir, "lineitem")
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        expr("percentile(l_quantity, 0.5)").as("med"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("apx_parts"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000))
          .as("apx_med"))
    exact.join(approx, "l_returnflag")
      .select(col("l_returnflag"),
        col("exact_parts"),
        (abs(col("apx_parts") - col("exact_parts")).cast("double") <=
          col("exact_parts").cast("double") * 0.15)
          .as("hll_within_15pct"),
        round(col("med"), 6).as("median_qty"),
        (abs(col("apx_med") - col("med")) <= 2.0)
          .as("approx_median_within_2"))
      .orderBy(col("l_returnflag"))
  }

  /** Robust statistics with cross-engine exactness: exact interpolated
    * percentiles (both engines sort — order-independent), and
    * stddev/correlation derived from DECIMAL-exact moment sums so the
    * double arithmetic runs on identical inputs in both engines. */
  def q21Stats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val n = count(lit(1)).cast("double")
    val s1 = sum(dec2(col("l_quantity"))).cast("double")
    val s2 = sum(dec4(col("l_quantity") * col("l_quantity"))).cast("double")
    val sd = sum(dec2(col("l_discount"))).cast("double")
    val sdd = sum(dec4(col("l_discount") * col("l_discount"))).cast("double")
    val sqd = sum(dec4(col("l_quantity") * col("l_discount"))).cast("double")
    li.groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median"),
        round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"),
        round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6).as("stddev_qty"),
        round((sqd - s1 * sd / n) /
          (sqrt(s2 - s1 * s1 / n) * sqrt(sdd - sd * sd / n)), 6)
          .as("corr_qty_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /**
   * AS-OF JOIN — the time-series join Spark has no native operator for:
   * attribute every event to the same user's most recent `signup` event
   * at-or-before it (the session/attribution join of log analytics;
   * kafana users run the equivalent "latest state as of t" lookup against
   * the changelog). Deterministic contract: latest `signup.ts ≤ event.ts`,
   * ties on ts broken by the larger signup event_id; events with no prior
   * signup keep NULLs (left as-of).
   *
   * Implemented by the generic [[TimeJoins.asof]] operator — ONE window
   * pass instead of an inequality join: tag
   * signup rows, order each user's events by (ts, signup-first, event_id)
   * and take `last(signup, ignoreNulls)` over the unbounded-preceding
   * frame. The plan is a single shuffle on user_id + one sort — per-row
   * cost O(1), no per-event fanout over the user's signup history the way
   * the naive `s.ts <= e.ts` join explodes (that quadratic-per-key join is
   * exactly what the DuckDB oracle runs). At 100 TB this is the only
   * shape that survives: time-partitioned inputs arrive pre-sorted and
   * the window degenerates to a streaming merge per key.
   */
  def q22AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val isSig = col("event_type") === "signup"
    // the generic operator: signup rows at exactly event.ts are visible;
    // equal-ts ties go to the max payload struct = the larger sig_id
    val signups = ev.where(isSig).select(col("user_id"),
      col("event_id").as("sig_id"), col("ts").as("sig_ts"))
    val others = ev.where(!isSig).select(col("event_id"), col("user_id"),
      col("ts"), col("event_type"))
    TimeJoins.asof(others, signups, "user_id", "ts", "sig_ts")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("asof.sig_id").as("sig_id"), col("asof.sig_ts").as("sig_ts"),
        (unix_micros(col("ts")) - unix_micros(col("asof.sig_ts")))
          .as("us_since_signup"))
      .orderBy(col("event_id"))
  }

  /**
   * q55 — AS-OF JOIN WITH STALENESS TOLERANCE, the feature-store
   * contract q22 lacks: a match is only valid if the looked-up row is
   * at most `tol` old (a trade priced against a quote from last week
   * is worse than no quote; a feature older than the freshness SLA
   * must read as missing, not silently stale). Same single
   * window-pass as-of core as q22 — the tolerance is a post-window
   * CASE, costing nothing — with a three-way `match_state`
   * (fresh/stale/none) so the freshness SLA is auditable in the same
   * pass that enforces it. At 100 TB identical physics to q22: one
   * shuffle + sort per key, no inequality-join fanout.
   */
  def q55AsofTolerance(spark: SparkSession, dir: String,
      tolUs: Long = 172800000000L): DataFrame = { // 48 h
    val ev = Tables.load(spark, dir, "events")
    val isSig = col("event_type") === "signup"
    val signups = ev.where(isSig).select(col("user_id"),
      col("event_id").as("sig_id"), col("ts").as("sig_ts"))
    val others = ev.where(!isSig).select(col("event_id"), col("user_id"),
      col("ts"), col("event_type"))
    TimeJoins.asof(others, signups, "user_id", "ts", "sig_ts")
      .withColumn("age_us",
        unix_micros(col("ts")) - unix_micros(col("asof.sig_ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("age_us") <= tolUs, col("asof.sig_id")).as("sig_id"),
        when(col("age_us") <= tolUs, col("age_us")).as("age_us"),
        when(col("age_us").isNull, "none")
          .when(col("age_us") > tolUs, "stale")
          .otherwise(lit("fresh")).as("match_state"))
      .orderBy(col("event_id"))
  }

  /**
   * q56 — ERROR-TOLERANT INGEST via TRY_CAST: parsing a dirty string
   * column (every 7th row planted as 'N/A', the real-world CSV/log
   * blend) where plain CAST would abort the whole job under ANSI mode;
   * `try_cast` turns each bad cell into NULL so the pipeline keeps the
   * good rows and COUNTS the bad ones — the per-column parse-failure
   * ledger (q49's DQ audit applied at the cast boundary). All exact
   * integers: parsed/failed counts and the decimal-frozen cent sum of
   * the parses. Map-side-combinable single aggregation.
   */
  def q56TryCast(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem")
      .withColumn("raw",
        when(col("l_partkey") % 7 === 0, lit("N/A"))
          .otherwise(col("l_quantity").cast("string")))
      .withColumn("parsed", expr("try_cast(raw AS DECIMAL(18,2))"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("parsed")).as("n_parsed"),
        sum(when(col("parsed").isNull, 1L).otherwise(0L)).as("n_failed"),
        sum((col("parsed") * 100).cast("decimal(18,0)").cast("long"))
          .as("parsed_cents"))
      .orderBy(col("l_returnflag"))
  }

  /**
   * q57 — THE `NOT IN` NULL TRAP, audited: `x NOT IN (subquery)` is
   * three-valued — one NULL in the subquery makes EVERY row's
   * predicate UNKNOWN and the result EMPTY, while `NOT EXISTS` with an
   * equality correlate treats NULL as simply non-matching. Engines
   * MUST honor both semantics; this entry runs the two forms against a
   * subquery list containing a planted NULL and reports the counts
   * side by side (0 vs the real anti-join count) plus the NULL-free
   * `NOT IN` count proving the forms agree once the NULL is filtered.
   * Catalyst plans the NOT IN as a null-aware anti join — single
   * shuffle, no fallback — which is exactly what the audit certifies.
   */
  def q57NotInTrap(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("q57_orders")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("q57_customer")
    // the subquery: customers in segment BUILDING, plus one planted NULL
    spark.sql(
      """WITH keys AS (
        |  SELECT c_custkey AS k FROM q57_customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL SELECT CAST(NULL AS BIGINT)),
        |keys_clean AS (SELECT k FROM keys WHERE k IS NOT NULL)
        |SELECT
        |  (SELECT count(*) FROM q57_orders
        |   WHERE o_custkey NOT IN (SELECT k FROM keys)) AS not_in_with_null,
        |  (SELECT count(*) FROM q57_orders
        |   WHERE o_custkey NOT IN (SELECT k FROM keys_clean))
        |    AS not_in_clean,
        |  (SELECT count(*) FROM q57_orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM keys x
        |                     WHERE x.k = o.o_custkey)) AS not_exists,
        |  (SELECT count(*) FROM q57_orders) AS n_orders""".stripMargin)
  }

  /**
   * RANGE (interval) JOIN, bucketized — "blast radius": for every `error`
   * event, how many events (and distinct users) occurred in the 5 minutes
   * strictly before it. A time-range join has no equi-key, so the naive
   * plan is a nested-loop over errors × events (what the DuckDB oracle
   * runs — fine at fixture scale, quadratic at any real one).
   *
   * The scale shape: quantize time into window-sized buckets. A 5-minute
   * interval overlaps at most 2 buckets, so each error probes exactly its
   * bucket and the previous one (a 2-row explode of the tiny error side),
   * the join becomes a shuffled EQUI-join on the bucket key, and the exact
   * `[ts−5m, ts)` predicate filters the bucket-mates. Each (error, event)
   * pair can meet in only one bucket (the event's own), so no dedup step
   * is needed. Fanout is bounded by events-per-bucket — data-density, not
   * N² — and both sides shuffle-partition on the bucket key exactly like
   * any large join. Counts aggregate per error; errors with an empty
   * window re-enter via a left join with 0s.
   */
  def q23RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val win = 300000000L // 5 minutes in µs
    val ev = Tables.load(spark, dir, "events")
    val errs = ev.where(col("event_type") === "error")
      .select(col("event_id"), unix_micros(col("ts")).as("e_us"))
    // `div` (integral division) for the bucket id: double `/` + cast could
    // round across a boundary for µs-scale longs
    val facts = ev.select(unix_micros(col("ts")).as("f_us"), col("user_id"))
      .withColumn("bucket", expr(s"f_us div $win"))
    val probes = errs.withColumn("bucket",
      explode(array(expr(s"(e_us div $win) - 1"), expr(s"e_us div $win"))))
    val counts = probes.join(facts, "bucket")
      .where(col("f_us") >= col("e_us") - win && col("f_us") < col("e_us"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_events_5m"),
        countDistinct(col("user_id")).as("n_users_5m"))
    errs.select(col("event_id"))
      .join(counts, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n_events_5m"), lit(0L)).as("n_events_5m"),
        coalesce(col("n_users_5m"), lit(0L)).as("n_users_5m"))
      .orderBy(col("event_id"))
  }

  /**
   * Salted hot-key join — [[Skew.saltedEquiJoin]] as a contract query.
   * `events.event_type` has ~5 distinct values: the classic skewed key
   * where an unsalted shuffle join lands each key's millions of rows on
   * ONE task. The salt (derived from the high-cardinality event_id)
   * spreads every hot key across 8 tasks; the dim side is replicated
   * 8× (tiny), and the result is bit-identical to the plain join — only
   * the physical partitioning changes ([[graft.SkewSpec]] pins the
   * (key, _salt) exchange). This composes with, not replaces, AQE's
   * skew-join: AQE splits oversized SMJ partitions at runtime, salting
   * fixes the aggregation-feed and shuffle-hash cases AQE can't.
   */
  /**
   * Q32 — PLANTED-HEAVY-KEY JOIN, the AQE skew-handling demonstration
   * (and q24's counterpart: WHEN NOT TO SALT). 70% of the fact collapses
   * onto one literal hot key, then joins a per-key dim through a plain
   * shuffled equi-join. No salting, no hints: at scale AQE detects the
   * oversized partition at runtime and splits it across tasks —
   * `SkewSpec` executes this exact shape with an unbroadcastable dim and
   * skew thresholds proportionate to fixture bytes and pins
   * `skew=true` on the SortMergeJoin node of the final adaptive plan.
   * [[Skew.saltedEquiJoin]] (q24) remains for what AQE does NOT cover:
   * skew feeding a hash AGGREGATE (no join node to split) and
   * first-shuffle skew under `spark.sql.adaptive.forceOptimizeSkewedJoin
   * =false` interacting with required child distributions.
   */
  def q32SkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val fact = ev.select(col("event_id"),
      when(col("event_id") % 10 < 7, lit("hot"))
        .otherwise(col("event_type")).as("k"),
      col("value"))
    // per-key reference dim — in production a table too WIDE to
    // broadcast; a literal stand-in here. Deliberately NOT an aggregate
    // of the fact: AQE's skew rule only matches a join whose two inputs
    // are plain ENSURE_REQUIREMENTS shuffles (SMJ(Sort(Shuffle),
    // Sort(Shuffle))) — an aggregate under the join hides the stage and
    // the hot partition would never split
    val dim = Seq("hot", "click", "error", "purchase", "signup", "view")
      .zipWithIndex.map { case (k, i) => (k, (i + 1) * 10L) }
      .toDF("k", "k_weight")
    fact.join(dim, "k")
      .groupBy(col("k"), col("k_weight"))
      .agg(count(lit(1)).as("n"),
        round(sum(dec4(col("value"))).cast("double"), 4).as("sum_v"))
      .orderBy(col("k"))
  }

  /**
   * q33 — RUNTIME BLOOM-FILTER join reduction (Spark's runtime row-level
   * filtering, the third join-scale discipline next to q32's AQE skew
   * split and q24's salting): lineitem joined to a SELECTIVELY filtered
   * orders slice (1% of order keys). At production scale the optimizer
   * plants a BloomFilterAggregate over the filtered creation side and
   * injects a `might_contain(bloom)` predicate into the lineitem scan, so ~99%
   * of probe rows die BEFORE the shuffle — the difference between
   * shuffling 100 TB and shuffling 1 TB. The injection thresholds
   * (`runtime.bloomFilter.creationSideThreshold` 10 MB,
   * `applicationSideScanSizeThreshold` 10 GB) are sized for real tables,
   * so the fixture-scale driver plan is the plain join; JoinOptSpec
   * lowers them fixture-proportionately and pins the
   * `might_contain` probe-side predicate (the q32/SkewSpec
   * discipline: demonstrate the mechanism, document the defaults).
   * Results are threshold-independent — the oracle is the plain join.
   */
  def q33BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
      .where(col("o_orderkey") % 100 === 0)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /**
   * q35 — AQE RUNTIME BROADCAST-JOIN conversion, the fourth runtime
   * re-optimization pinned as an entry (q32 skew split, q33 bloom
   * filter, q34 DPP are the other three): the dim side reaches the join
   * THROUGH AN AGGREGATE, so the static planner cannot size it and
   * falls back to a SortMergeJoin — but the finished shuffle stage
   * turns out tiny, and AQE replans the join as a BroadcastHashJoin
   * (the broadcast side chosen from RUNTIME stage sizes), so the big
   * side's sort and cross-node redistribution never run. At 100 TB this
   * is the difference between shuffling the fact and shipping a few MB:
   * the single most valuable adaptive rewrite on aggregate-derived
   * dims, where static stats are always conservative. `JoinOptSpec`
   * executes this exact shape with the static broadcast threshold
   * disabled and pins BroadcastHashJoin over materialized
   * BroadcastQueryStages in the FINAL adaptive plan (initial plan SMJ).
   */
  def q35AqeBhj(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val urgent = Tables.load(spark, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") % 10 === 0)
      .groupBy(col("o_orderkey"))
      .agg(max(dec2(col("o_totalprice"))).as("o_price"))
    li.join(urgent, li("l_orderkey") === urgent("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(col("o_price")).cast("double").as("sum_price"))
      .orderBy(col("l_linestatus"))
  }

  /**
   * q36 — RECURSIVE CTE (ANSI `WITH RECURSIVE`, new SQL surface in
   * Spark 4): transitive closure over an edge table — each customer
   * walks its parent chain (parent = c_custkey div 10, a deterministic
   * decimal-trie hierarchy derived from the fixture; roots are keys
   * 0..9) to its root, accumulating depth and the full path string.
   * The recursion shape is the general graph-walk: the recursive leg
   * JOINS the working set to the edge relation (not a pure projection),
   * so the planner runs one hash join per level — at 100 TB each level
   * is a key-partitioned join whose working set shrinks 10x per round
   * (the CC/PageRank iteration shape, here expressed declaratively and
   * terminated by edge exhaustion rather than a driver loop). Depth is
   * log10(N) — 5 levels at 100k keys — far under Spark's default
   * 100-level recursion guard. `root_size` (customers sharing a root)
   * is a bounded window over the 10-key root domain.
   */
  def q36Recursive(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("q36_customer")
    spark.sql(
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS key, c_custkey AS cur, 0 AS depth,
        |         CAST(c_custkey AS STRING) AS path
        |  FROM q36_customer
        |  UNION ALL
        |  SELECT c.key, e.parent, c.depth + 1,
        |         CONCAT(c.path, '>', CAST(e.parent AS STRING))
        |  FROM chain c
        |  JOIN (SELECT c_custkey AS child, c_custkey DIV 10 AS parent
        |        FROM q36_customer WHERE c_custkey > 9) e
        |    ON c.cur = e.child
        |)
        |SELECT key AS c_custkey, cur AS root, depth, path,
        |       count(*) OVER (PARTITION BY cur) AS root_size
        |FROM chain WHERE cur <= 9
        |ORDER BY c_custkey""".stripMargin)
  }

  /**
   * q37 — VARIANT, Spark 4's semi-structured column type (the modern
   * path kq4b's string-level `get_json_object` predates): each event's
   * fields nest into one JSON payload, `parse_json` turns it into an
   * open-schema VARIANT (binary-encoded, not re-parsed per access), and
   * every downstream touch goes through typed `variant_get` paths —
   * the filter on `$.meta.k`, the grouping key from `$.meta.type`, the
   * metric from `$.vals[0]`. The oracle recomputes from the ORIGINAL
   * columns, so it checks round-trip FIDELITY: a long, a double and a
   * string must survive encode -> variant -> typed extraction exactly
   * (the double via JSON shortest-round-trip). Money stays on the
   * DECIMAL-cents rails. At 100 TB the point of VARIANT over JSON
   * strings is decode-once binary access and Parquet shredding of hot
   * paths; the plan keeps all three accesses in one scan projection.
   */
  def q37Variant(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val payload = to_json(struct(
      struct(col("event_type").as("type"),
        get_json_object(col("props"), "$.k").cast("long").as("k")).as("meta"),
      array(col("value")).as("vals")))
    ev.select(parse_json(payload).as("v"))
      .where(expr("variant_get(v, '$.meta.k', 'long')") >= 50)
      .groupBy(expr("variant_get(v, '$.meta.type', 'string')").as("vtype"))
      .agg(count(lit(1)).as("n"),
        sum(expr("variant_get(v, '$.meta.k', 'long')")).as("sum_k"),
        sum(expr("variant_get(v, '$.vals[0]', 'double')")
          .cast(DecimalType(18, 2)).multiply(lit(100)).cast("long"))
          .cast("long").as("sum_v_cents"))
      .orderBy(col("vtype"))
  }

  /**
   * q38 — UNPIVOT (wide metrics -> long EAV form), the inverse of q17's
   * PIVOT and the standard step in front of generic metric sinks and
   * chart layers: the per-flag aggregate frame melts into one
   * (key, metric, value) row per metric via `Dataset.unpivot` (Spark's
   * native melt — no UNION ALL re-scan of the aggregate; the oracle
   * spells out the UNION ALL the operator replaces). All metric values
   * are exact BIGINTs sharing one type, the unpivot contract. Runs on
   * the handful-of-groups aggregate, so the melt is free at any scale.
   */
  def q38Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        sum(dec2(col("l_quantity")).multiply(lit(100)).cast("long"))
          .cast("long").as("sum_qty_cents"),
        sum(dec2(col("l_extendedprice")).multiply(lit(100)).cast("long"))
          .cast("long").as("sum_price_cents"),
        count(lit(1)).as("n_rows"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty_cents"), col("sum_price_cents"), col("n_rows")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  /**
   * q39 — correlated LATERAL subquery ("top-N per outer row" as the SQL
   * author writes it): each filtered order pulls its two priciest line
   * items through a correlated ORDER BY ... LIMIT subquery. The point is
   * the DECORRELATION: Catalyst rewrites the per-row subquery into a
   * relational plan (join + per-key limit), so no nested re-execution of
   * the inner query happens per outer row — the naive O(orders x scan)
   * becomes one co-partitioned join at any scale. Cents stay on the
   * exact DECIMAL rails; DuckDB runs the identical LATERAL text.
   */
  def q39Lateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("q39_orders")
    Tables.load(spark, dir, "lineitem")
      .createOrReplaceTempView("q39_lineitem")
    spark.sql(
      """SELECT o.o_orderkey, t.l_linenumber, t.price_cents
        |FROM q39_orders o,
        |LATERAL (SELECT l_linenumber,
        |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |                AS BIGINT) AS price_cents
        |         FROM q39_lineitem l
        |         WHERE l.l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber
        |         LIMIT 2) t
        |WHERE o.o_orderkey % 10 = 0
        |ORDER BY o.o_orderkey, price_cents DESC, l_linenumber""".stripMargin)
  }

  /** 8-bit Morton interleave of two pre-bucketed dims, as a SQL
    * expression string — the disjoint bit terms sum (= OR). `mkShift`
    * abstracts the shift syntax (Spark `shiftleft(shiftright(..))`
    * functions vs DuckDB `<<`/`>>` operators); the arithmetic is
    * identical. */
  private def mortonTerms(x: String, y: String,
      shl: (String, Int) => String, shr: (String, Int) => String): String =
    (0 until 8).flatMap(i => Seq(
      shl(s"(${shr(x, i)}) & 1", 2 * i),
      shl(s"(${shr(y, i)}) & 1", 2 * i + 1))).mkString(" + ")

  /**
   * q40 — Z-ORDER (Morton-curve) data layout vs a linear sort, measured
   * by what a min/max-pruning reader would skip: both dims bucket to
   * 8 bits, the Z-key interleaves them, and each layout's top-6-bits
   * range partitioning assigns 64 "files"; per file the zone-map
   * (min/max of each dim) is computed, and for three query boxes
   * (a quadrant, an x-stripe, a y-stripe) the result reports how many
   * files each layout's zone maps fail to prune. The point of the
   * operator: a single-column sort prunes ONLY its own column's
   * stripes; the Z-order layout bounds BOTH dims per file, so every
   * box query skips most files — the lakehouse clustering decision in
   * one measurable plan. Everything is exact integers; file assignment
   * is CONTENT-based (key-range partitioning on leading bits), so no
   * global sort/window is needed at any scale — a map-side projection
   * plus two small aggregations over (file) keys.
   */
  def q40Zorder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
    val z = mortonTerms("x", "y",
      (e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)")
    val tagged = li
      .withColumn("zfile", expr(s"($z) >> 10"))
      .withColumn("lfile", expr("shiftright(x, 2)"))
    val qdf = broadcast(Seq(
      ("q1_quadrant", 0L, 63L, 0L, 63L),
      ("q2_x_stripe", 0L, 15L, 0L, 255L),
      ("q3_y_stripe", 0L, 255L, 0L, 15L))
      .toDF("query_name", "xlo", "xhi", "ylo", "yhi"))
    def layoutStats(fileCol: String, layout: String) =
      tagged.groupBy(col(fileCol).as("file"))
        .agg(min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .withColumn("layout", lit(layout))
    val stats = layoutStats("zfile", "zorder")
      .unionAll(layoutStats("lfile", "linear"))
    val touched = stats.crossJoin(qdf)
      .where(col("min_x") <= col("xhi") && col("max_x") >= col("xlo") &&
        col("min_y") <= col("yhi") && col("max_y") >= col("ylo"))
      .groupBy(col("layout"), col("query_name"))
      .agg(count(lit(1)).as("files_touched"))
    val filesTotal = stats.groupBy(col("layout"))
      .agg(count(lit(1)).as("files_total"))
    val rowsSel = li.crossJoin(qdf)
      .where(col("x").between(col("xlo"), col("xhi")) &&
        col("y").between(col("ylo"), col("yhi")))
      .groupBy(col("query_name")).agg(count(lit(1)).as("rows_selected"))
    touched.join(filesTotal, "layout").join(rowsSel, "query_name")
      .select(col("layout"), col("query_name"), col("files_total"),
        col("files_touched"), col("rows_selected"))
      .orderBy(col("layout"), col("query_name"))
  }

  /**
   * q41 — LAST-TOUCH ATTRIBUTION: every purchase is credited to the
   * user's most recent click within a 7-day lookback, rolled up to the
   * click's campaign (`props.k`). The classic marketing-analytics ask,
   * expressed as ONE per-user window — `last(click-touch, ignoreNulls)`
   * over rows up to the current event carries the latest click struct
   * along the timeline, so there is no self-join of purchases against
   * click history (the naive per-purchase subquery) and the plan is a
   * single shuffle on user_id. Revenue stays on exact DECIMAL-cents
   * rails. (timestamp, event_id) makes the carry order total, so the
   * attribution is deterministic under ties.
   */
  def q41Attribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickTouch = when(col("event_type") === "click",
      struct(unix_micros(col("ts")).as("c_us"),
        get_json_object(col("props"), "$.k").cast("long").as("campaign")))
    Tables.load(spark, dir, "events")
      .withColumn("touch", last(clickTouch, ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" && col("touch").isNotNull &&
        unix_micros(col("ts")) - col("touch.c_us") <= 604800000000L)
      .groupBy(col("touch.campaign").as("campaign"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(dec2(col("value")).multiply(lit(100)).cast("long")).cast("long")
          .as("revenue_cents"))
      .orderBy(col("campaign"))
  }

  /**
   * q42 — RFM SEGMENTATION over orders: per customer, recency (days
   * from their last order to the dataset's last order), frequency
   * (order count) and monetary (exact cents); each dimension then
   * scores 1–5 by the deterministic quantile formula
   * 5 − ((rn−1)·5 div n) over a totally-ordered ranking (metric,
   * custkey) — the same arithmetic in both engines, none of ntile's
   * remainder-distribution ambiguity. The result is the 5×5×5 segment
   * matrix (count + revenue per segment), i.e. "how many champions /
   * at-risk / hibernating customers". The global rankings are the one
   * inherently total-order step (a rank IS a global statement) — at
   * scale they'd ride a range-partitioned sort, here three windows
   * over the already-aggregated per-customer frame (|customers| ≪
   * |orders|).
   */
  def q42Rfm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(dec2(col("o_totalprice")).multiply(lit(100)).cast("long"))
          .cast("long").as("monetary_cents"))
      .withColumn("recency_days",
        datediff(max(col("last_order")).over(Window.partitionBy()),
          col("last_order")).cast("long"))
    val scored = per
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rn", row_number().over(Window.orderBy(
        col("recency_days"), col("o_custkey"))))
      .withColumn("r_score", lit(5L) - expr("((rn - 1) * 5) div n"))
      .withColumn("rn", row_number().over(Window.orderBy(
        col("frequency").desc, col("o_custkey"))))
      .withColumn("f_score", lit(5L) - expr("((rn - 1) * 5) div n"))
      .withColumn("rn", row_number().over(Window.orderBy(
        col("monetary_cents").desc, col("o_custkey"))))
      .withColumn("m_score", lit(5L) - expr("((rn - 1) * 5) div n"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary_cents")).as("segment_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /**
   * q43 — LISTAGG (SQL:2023, new in Spark 4): per region, the
   * alphabetical roster of its nations — the ordered string
   * aggregation every report footer wants, WITHIN GROUP making the
   * concatenation order part of the query contract (DuckDB's
   * `string_agg(... ORDER BY ...)` is the same operator). Broadcast
   * dim join; the aggregation state is bounded by group payload.
   */
  def q43Listagg(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.load(spark, dir, "nation")
    val reg = Tables.load(spark, dir, "region")
    nat.join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        expr("listagg(n_name, ', ') within group (order by n_name)")
          .as("nations"))
      .orderBy(col("r_name"))
  }

  /**
   * q44 — SCD TYPE-2 dimension build from a changelog: each customer's
   * order-status history collapses to CHANGE rows (status differs from
   * the previous one in (o_orderdate, o_orderkey) order) and each
   * change becomes a dimension version with a [valid_from, valid_to)
   * validity interval and an is_current flag — the lakehouse
   * slowly-changing-dimension pattern. Two windows over the SAME
   * per-customer ordering (change detection, then interval assembly on
   * the filtered set); one shuffle on the dimension key, no self-joins,
   * and per-key state is bounded by that key's own history — the shape
   * that survives a 100 TB changelog.
   */
  def q44Scd2(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val wk = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"))
      .withColumn("prev", lag(col("o_orderstatus"), 1).over(wk))
      .where(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .withColumn("version", row_number().over(wk).cast("long"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(wk))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_custkey"), col("version"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        col("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  /**
   * q45 — TEMPORAL (point-in-time) JOIN against the [[q44Scd2]]
   * dimension: every lineitem ship event looks up the customer's
   * order-status VERSION valid at l_shipdate (valid_from ≤ d <
   * valid_to, the current version open-ended) — the fact-to-SCD2
   * lookup every warehouse runs. Plan: equi-join lineitem→orders on
   * the order key for the customer key, then an equi-join on the
   * dimension key with the validity range as a post-join filter —
   * per-key version lists are short (a key's own change history), so
   * fanout is bounded; no interval index needed. Version 1's validity
   * is open at the START — the SCD convention for the initial state
   * (it covers everything before the first recorded change; the
   * fixture has ship dates preceding their customer's first order
   * date, which would otherwise dangle) — so every event matches
   * exactly one version, and the spec asserts row conservation.
   */
  def q45TemporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"),
        col("l_extendedprice"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val dim = q44Scd2(spark, dir)
    val fact = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
    fact.join(dim,
        fact("o_custkey") === dim("o_custkey") &&
          (col("version") === 1L ||
            col("l_shipdate") >= col("valid_from")) &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
      .groupBy(col("status"), col("is_current"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("price_cents"))
      .orderBy(col("status"), col("is_current"))
  }

  /**
   * q46 — INCREMENTAL VIEW MAINTENANCE by associative merge: the
   * running per-priority order aggregate is maintained as
   * (stored base) ⊕ (new delta) instead of recomputed — base covers
   * everything before the last month boundary, delta the tail, and the
   * merge is plain addition because count/decimal-cent-sum are
   * associative and commutative. The DuckDB oracle is the FULL
   * one-shot recompute, so the hash check IS the merge-equals-
   * recompute theorem. (Here both legs scan the fixture — in
   * production the base leg is the stored aggregate; the merge plan is
   * what this entry pins.) The cutoff is a broadcast 1-row scalar;
   * both legs are map-side-combinable aggregations on the same key.
   */
  def q46IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val cutoff = orders
      .agg(date_trunc("month", max(col("o_orderdate"))).as("cut"))
    val withCut = orders.crossJoin(broadcast(cutoff))
    def leg(pred: Column, phase: String): DataFrame =
      withCut.where(pred)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents).as("cents"))
        .withColumn("phase", lit(phase))
    leg(col("o_orderdate") < col("cut"), "base")
      .unionByName(leg(col("o_orderdate") >= col("cut"), "delta"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(col("phase") === "base", col("n")).otherwise(0L))
          .as("base_n"),
        sum(when(col("phase") === "delta", col("n")).otherwise(0L))
          .as("delta_n"),
        sum(col("n")).as("n_orders"), sum(col("cents")).as("cents"))
      .orderBy(col("o_orderpriority"))
  }

  /**
   * q47 — Spark 4 SQL-language surface in one query: a declarative
   * SQL UDF (`CREATE TEMPORARY FUNCTION ... RETURNS ... RETURN expr` —
   * inlined by Catalyst into the plan, so it codegens like the
   * hand-written expression and pushes through the optimizer, unlike a
   * black-box Scala UDF), a NAMED PARAMETER marker (`:status`, bound
   * via `spark.sql(text, args)` — the injection-safe API), and a
   * LATERAL COLUMN ALIAS (`cents div n` referencing two aliases
   * defined in the same SELECT list). The aggregation itself is the
   * exact-cents discipline via the UDF body.
   */
  def q47SqlUdf(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("q47_orders")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION order_cents(p DOUBLE)
        |RETURNS BIGINT
        |RETURN CAST(CAST(p AS DECIMAL(18,2)) * 100 AS BIGINT)""".stripMargin)
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  sum(order_cents(o_totalprice)) AS cents,
        |  cents div n AS avg_cents
        |FROM q47_orders
        |WHERE o_orderstatus = :status
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
      Map("status" -> "F"))
  }

  /**
   * q48 — PIVOT: order revenue cents by priority pivoted across order
   * years (the spreadsheet/cross-tab surface; q38 is the inverse
   * UNPIVOT). The pivot value list is EXPLICIT, so Spark plans ONE
   * map-side-combinable hash aggregation with a conditional-sum per
   * column — with an inferred list it would first run a distinct scan
   * of the pivot column. Absent cells coalesce to 0 so the schema is
   * total. One shuffle on the 5-row priority key; everything is exact
   * integer cents.
   */
  def q48Pivot(spark: SparkSession, dir: String): DataFrame = {
    val years = Seq(1995, 1996, 1997, 1998, 1999, 2000, 2001)
    val cents = (dec2(col("o_totalprice")) * 100)
      .cast(DecimalType(18, 0)).cast("long")
    Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority"), year(col("o_orderdate")).as("yr"),
        cents.as("cents"))
      .groupBy(col("o_orderpriority"))
      .pivot("yr", years.map(_.asInstanceOf[Any]))
      .agg(sum(col("cents")))
      .select(col("o_orderpriority") +: years.map(y =>
        coalesce(col(s"`$y`"), lit(0L)).as(s"y$y")): _*)
      .orderBy(col("o_orderpriority"))
  }

  /**
   * q49 — DATA-QUALITY AUDIT (the Deequ-style constraint suite a
   * lakehouse runs on every ingest batch): primary-key uniqueness,
   * referential integrity both directions, completeness, and a value
   * range — each check one row of (table, check, violation metric,
   * pass). Every metric is an aggregate or an anti-join count on its
   * own table — nothing quadratic, nothing driver-side; at 100 TB each
   * check is one linear pass (the orphan checks are shuffle anti-joins
   * on the key, exactly the shape a constraint engine emits). The pass
   * thresholds are part of the contract (zero tolerance except the
   * documented tombstone null budget on the changelog's value column).
   */
  def q49DqAudit(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val lineitem = Tables.load(spark, dir, "lineitem")
    def check(tbl: String, chk: String, frame: DataFrame): DataFrame =
      frame.select(lit(tbl).as("tbl"), lit(chk).as("chk"),
        col("metric").cast("long").as("metric"), col("pass"))
    val pkUnique = check("orders", "pk_unique", orders
      .agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("metric"))
      .withColumn("pass", col("metric") === 0L))
    val fkCustomer = check("orders", "fk_customer", orders
      .join(customer, orders("o_custkey") === customer("c_custkey"),
        "left_anti")
      .agg(count(lit(1)).as("metric"))
      .withColumn("pass", col("metric") === 0L))
    val fkOrders = check("lineitem", "fk_orders", lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"),
        "left_anti")
      .agg(count(lit(1)).as("metric"))
      .withColumn("pass", col("metric") === 0L))
    val nameComplete = check("customer", "name_complete", customer
      .agg(sum(when(col("c_name").isNull, 1L).otherwise(0L)).as("metric"))
      .withColumn("pass", col("metric") === 0L))
    val qtyRange = check("lineitem", "qty_range", lineitem
      .agg(sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("metric"))
      .withColumn("pass", col("metric") === 0L))
    // the CHANGELOG's value nulls are the tombstone contract (1 in 50
    // envelope rows) — the budget is <= 2.5% of rows, so the check
    // passes by design and would catch a producer regression doubling
    // the tombstone rate. The raw events table has no nulls at all;
    // the envelope is where the deletion semantics live.
    val valueBudget = check("changelog", "value_null_budget",
      graft.Pipeline.envelopeFlat(spark, dir)
        .agg(sum(when(col("value").isNull, 1L).otherwise(0L)).as("metric"),
          count(lit(1)).as("n"))
        .withColumn("pass", col("metric") * 40L <= col("n")))
    pkUnique.unionAll(fkCustomer).unionAll(fkOrders)
      .unionAll(nameComplete).unionAll(qtyRange).unionAll(valueBudget)
      .orderBy(col("tbl"), col("chk"))
  }

  /**
   * q50 — MERGE (upsert) applied as ONE full-outer join: a CDC batch
   * (the 2001 order tail, aggregated per (customer, priority)) merges
   * into the target dimension (the same grain before the cutoff) with
   * the three MERGE INTO verdicts materialized per key — `update`
   * (matched: counters add), `insert` (source-only), `keep`
   * (target-only, untouched). The (custkey, priority) grain is what
   * makes all three actions non-empty on this data: a customer rarely
   * covers every priority before the cutoff, so the tail genuinely
   * inserts new keys. This is the Delta/Iceberg MERGE shape without a
   * table format: at 100 TB the full-outer join is one co-partitioned
   * shuffle pair on the merge key, and the action column is exactly
   * what a storage layer would use to route row writes. q46 is the
   * aggregate-level sibling (associative re-aggregation); this is the
   * KEYED row-action form.
   */
  def q50Merge(spark: SparkSession, dir: String,
      cutoff: String = "2001-01-01"): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val cents = (dec2(col("o_totalprice")) * 100)
      .cast(DecimalType(18, 0)).cast("long")
    def side(pred: Column, np: String, cp: String): DataFrame = orders
      .where(pred)
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as(np), sum(cents).as(cp))
    val target = side(col("o_orderdate") < cutoff, "t_n", "t_cents")
    val source = side(col("o_orderdate") >= cutoff, "s_n", "s_cents")
    target.join(source, Seq("o_custkey", "o_orderpriority"), "full_outer")
      .select(col("o_custkey"), col("o_orderpriority"),
        when(col("s_n").isNull, "keep")
          .when(col("t_n").isNull, "insert")
          .otherwise("update").as("action"),
        (coalesce(col("t_n"), lit(0L)) + coalesce(col("s_n"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("t_cents"), lit(0L))
          + coalesce(col("s_cents"), lit(0L))).as("cents"))
      .orderBy(col("o_custkey"), col("o_orderpriority"))
  }

  /**
   * q51 — ORDERED-SET AGGREGATES + the FILTER clause (SQL:2016, Spark
   * 4 SQL surface): per return flag, PERCENTILE_CONT at 0.25/0.5/0.75
   * WITHIN GROUP over exact integer cents, and FILTER (WHERE …)
   * aggregates for the heavy-quantity slice — expressed in SQL text
   * because the syntax IS the surface (the q47 pattern). Quantile
   * determinism: the chosen quantiles make pos = q·(n−1) have an
   * exactly-representable fraction ∈ {0, ¼, ½, ¾}, so the interpolated
   * value is exact in double ARITHMETIC-ORDER-INDEPENDENTLY — any
   * correct formula gives the bit-identical result (q = 0.95 would
   * not: its binary fraction makes ceil/floor of n·q engine-fragile;
   * percentile_disc index conventions also differ across engines, so
   * the disc form is deliberately absent). One hash aggregate + a
   * per-group sort inside the percentile buffer; at scale this is the
   * classic single-shuffle ordered-set plan.
   *
   * Round 17: the three `percentile_cont(q) WITHIN GROUP` clauses (which
   * each parse to an independent `Percentile` aggregate — three value
   * buffers built, serialized between partial and merge, and sorted per
   * group) are folded into ONE `percentile(cents, array(0.25,0.5,0.75))`
   * sharing a single buffer and a single per-group sort. Same
   * `Percentile` expression, same interpolation, bit-identical values
   * (oracle-verified at three SFs); 4.5 s → 1.8 s at sf0.1.
   */
  def q51OrderedSet(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem")
      .createOrReplaceTempView("q51_lineitem")
    spark.sql(
      """SELECT l_returnflag, n,
        |  ps[0] AS p25_cents, ps[1] AS p50_cents, ps[2] AS p75_cents,
        |  n_heavy, heavy_cents
        |FROM (
        |  SELECT l_returnflag,
        |    count(*) AS n,
        |    percentile(
        |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |      array(0.25D, 0.5D, 0.75D)) AS ps,
        |    count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      FILTER (WHERE l_quantity > 25) AS heavy_cents
        |  FROM q51_lineitem
        |  GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin)
  }

  /**
   * q52 — QUALIFY-style windowed row filter: the single highest-value
   * order per customer, the "greatest-n-per-group" idiom every
   * warehouse dialect grew dedicated syntax for (DuckDB/Snowflake/BQ
   * `QUALIFY`, which the oracle uses verbatim). Spark expresses it as
   * row_number + filter — and the optimizer's WindowGroupLimit rewrite
   * (pinned for the generic shape in RelQueriesSpec's q45 sibling)
   * turns the rank-then-drop into a per-partition top-1 that never
   * materializes the losing rows, so at 100 TB the shuffle carries one
   * row per customer out of each map partition, not the whole orders
   * table. Tie-break on o_orderkey keeps the winner unique.
   */
  def q52Qualify(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").as("best_price"))
      .orderBy(col("o_custkey"))
  }

  /**
   * q53 — BITMAP-BACKED EXACT DISTINCT COUNTS: `count(distinct key)` is
   * the one aggregate that does NOT pre-aggregate — partial counts from
   * two partitions can't be added. Spark's bitmap functions
   * (`bitmap_bit_position`/`bitmap_construct_agg`/`bitmap_or_agg`/
   * `bitmap_count`) fix that by materializing the distinct SET as
   * fixed-width bitmaps keyed by `bitmap_bucket_number` (4096 bits per
   * bucket): per-group bitmaps OR together losslessly, so a 100 TB
   * deployment computes fine-grained bitmaps ONCE and answers every
   * rollup distinct-count from the bitmap table without rescanning the
   * fact. Here: exact distinct parts per (returnflag, linestatus) from
   * the fine bitmaps, then the per-flag distinct REAGGREGATED from the
   * same bitmaps via `bitmap_or_agg` — never touching lineitem again —
   * alongside the naive sum of per-status distincts to show the overlap
   * the OR removes. Oracle: DuckDB plain `count(DISTINCT)` at both
   * grains, proving the bitmap path is exact.
   */
  def q53BitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint = "persist the bitmap table": ONE fact pass
    // builds the fine bitmaps; both grains aggregate the (small)
    // materialized bitmap rows — without it each consumer would
    // rescan lineitem, defeating the whole point
    val fine = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        expr("bitmap_bucket_number(l_partkey)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
        .as("bm"))
      .localCheckpoint()
    val byStatus = fine.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(expr("bitmap_count(bm)")).as("distinct_parts"))
    // rollup to flag from the BITMAPS (no fact rescan): OR per bucket,
    // then count
    val byFlag = fine.groupBy(col("l_returnflag"), col("bucket"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("bitmap_count(bm)")).as("flag_distinct"))
    byStatus.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_statuses"),
        sum(col("distinct_parts")).as("sum_status_distinct"))
      .join(byFlag, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_statuses"),
        col("sum_status_distinct"), col("flag_distinct"))
      .orderBy(col("l_returnflag"))
  }

  /**
   * q54 — NULL-SAFE EQUI-JOIN (`<=>` / `IS NOT DISTINCT FROM`): standard
   * SQL equality drops NULL keys from BOTH sides of a join (NULL = NULL
   * is not true), but dedup ledgers, SCD change detection and
   * sessionization over optional attributes all need the NULL bucket to
   * MATCH ITSELF. Spark's `<=>` stays a plain hash join — null-safe
   * equality is still hashable (NULL gets one hash bucket), so the plan
   * is identical to an equi-join at any scale: no fallback to
   * nested-loop like a general non-equi predicate would force. The
   * derived key sends ~30 % of rows to the NULL bucket — the skew a real
   * optional attribute has; at 100 TB that bucket is the salting
   * candidate (q24), exactly because null-safe equality keeps it.
   */
  def q54NullsafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("k",
        when(col("l_partkey") % 10 < 3, lit(null).cast("long"))
          .otherwise(col("l_partkey") % 10))
    val dim = li.where(col("l_orderkey") % 2 === 1)
      .groupBy(col("k"))
      .agg(sum((col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")).as("dim_qty_cents"))
    val probe = li.where(col("l_orderkey") % 2 === 0)
    probe.as("p").join(dim.as("d"), col("p.k") <=> col("d.k"))
      .groupBy(col("p.k").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        first(col("d.dim_qty_cents")).as("dim_qty_cents"))
      .orderBy(col("key").asc_nulls_first)
  }

  /**
   * q34 — DYNAMIC PARTITION PRUNING over a date-partitioned fact: the
   * lakehouse layout (fact partitioned by day on disk, a calendar dim
   * filtered on an attribute) where the partition keys to read are only
   * known at RUNTIME — a static planner must scan every partition; DPP
   * turns the dim filter into a partition filter on the fact scan (a
   * `DynamicPruningExpression` subquery reusing the broadcast), so a
   * weekend-only query reads 2/7 of the partitions. At 100 TB/yr this is
   * the difference between scanning 365 and 104 partitions, before any
   * row is decoded. The fact is written date-partitioned to a scratch
   * dir on each call (the write IS part of the demonstrated layout);
   * JoinOptSpec pins the DynamicPruningExpression in the executed plan
   * and that the pruned scan reads only the weekend partitions.
   */
  def q34DppJoin(spark: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("q34-fact").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(work)
    dppFactAndDim(spark, dir, work.toString) match { case (fact, dim) =>
      fact.join(broadcast(dim), Seq("event_date"))
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("sum_v"))
        // string out (a DATE column stringifies differently per engine);
        // the join/grouping stays on the inferred DATE partition column
        .select(date_format(col("event_date"), "yyyy-MM-dd")
          .as("event_date"), col("n"), col("sum_v"))
        .orderBy(col("event_date"))
    }
  }

  /** q34's layout builder: writes the date-partitioned fact (partition
    * values inferred back as DATE) and derives the weekend calendar dim.
    * Shared with JoinOptSpec so the spec pins the exact entry shape. */
  private[graft] def dppFactAndDim(spark: SparkSession, dir: String,
      work: String): (DataFrame, DataFrame) = {
    val ev = Tables.load(spark, dir, "events")
    ev.select(col("event_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
      .write.mode("overwrite").partitionBy("event_date").parquet(work)
    // calendar dim: one row per date with a non-partition attribute the
    // query filters on (Spark dayofweek: 1 = Sunday, 7 = Saturday)
    val dim = ev.select(to_date(col("ts")).as("event_date"),
        dayofweek(col("ts")).as("dow")).distinct()
      .where(col("dow") === 1 || col("dow") === 7)
      .select(col("event_date"))
    (Tables.parquet(spark, work), dim)
  }

  def q24SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val fact = ev.select(col("event_id"), col("event_type"))
    val dim = ev.groupBy(col("event_type"))
      .agg(round(sum(dec4(col("value"))).cast("double") / count(lit(1)), 4)
        .as("type_avg"))
    Skew.saltedEquiJoin(fact, dim, "event_type", factId = col("event_id"))
      .select(col("event_id"), col("event_type"), col("type_avg"))
      .orderBy(col("event_id"))
  }

  /**
   * SESSIONIZATION — gap-based session assignment, the batch counterpart
   * of [[graft.streaming.StreamPipeline]]'s `session_window`: a user's
   * events belong to one session until a silence of > 30 minutes; each
   * session reports its event count, bounds and duration. The classic
   * "islands" formulation: `lag` marks session starts, a running sum
   * numbers them, one aggregation folds events into sessions — two
   * window passes + the aggregation all over the SAME user_id
   * partitioning, so the plan is one shuffle total; at 100 TB this is a
   * per-key linear scan, no self-joins. All arithmetic is integer µs —
   * bit-identical across engines (DuckDB's window SUM yields HUGEINT,
   * cast to BIGINT in the oracle).
   */
  def q25Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800000000L // 30 minutes
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    TimeJoins.sessionize(ev, "user_id", col("us"), gapUs, col("event_id"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /**
   * FUNNEL — two-step conversion analysis (signup → purchase within 24 h),
   * the sequence query product analytics runs over event logs. Per user:
   * the FIRST signup, the first purchase AT OR AFTER that signup, the
   * conversion lag and a converted-within-24h flag. Users who never sign
   * up are excluded; signed-up users who never purchase stay with NULL
   * purchase columns (the funnel's drop-off rows).
   *
   * Plan: one aggregation for first-signups (shuffle on user_id), a
   * same-key equi-join back to the purchase events, one aggregation for
   * first-qualifying-purchase, one left join — every stage keyed on
   * user_id, so at scale the shuffles collapse into one partitioning.
   * All comparisons are integer µs; MIN aggregations make the result
   * independent of partitioning and encounter order.
   */
  def q26Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val firstSignup = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("signup_us"))
    val firstPurchase = ev.where(col("event_type") === "purchase")
      .join(firstSignup, "user_id")
      .where(col("us") >= col("signup_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
    firstSignup.join(firstPurchase, Seq("user_id"), "left")
      .select(col("user_id"), col("signup_us"), col("purchase_us"),
        (col("purchase_us") - col("signup_us")).as("lag_us"),
        coalesce(col("purchase_us") - col("signup_us") <= 86400000000L,
          lit(false)).as("converted_24h"))
      .orderBy(col("user_id"))
  }

  /**
   * Explicit GROUPING SETS (the general form behind q17's rollup / q18's
   * cube): per-status totals, per-priority totals and the grand total in
   * ONE aggregation pass — Catalyst expands the sets into a single
   * Expand + hash-agg, not three scans. `grouping_id()` disambiguates
   * which set each output row belongs to (and makes the ORDER BY
   * deterministic: within a set the grouped-out column is constantly
   * NULL, so null-ordering differences between engines can never
   * reorder rows). Money sums follow the q1 decimal-exact pattern.
   */
  def q28GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    o.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("n"), col("total"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
  }

  /**
   * Three-step SEQUENCE funnel (signup → click → purchase, strictly
   * increasing event times) — the ordered-sequence mining q26's two-step
   * funnel generalizes to. Greedy earliest-completion semantics: each
   * stage takes the MIN event time strictly after the previous stage's
   * time, which is the standard funnel definition and a per-stage
   * MIN-aggregation cascade — three user_id-keyed aggregations and
   * joins, NO per-user event sorting or window state. Left joins keep
   * drop-offs as NULL stages. Integer-µs math end to end.
   */
  def q31SequenceFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val s2 = ev.where(col("event_type") === "click").join(s1, "user_id")
      .where(col("us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val s3 = ev.where(col("event_type") === "purchase").join(s2, "user_id")
      .where(col("us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        col("t3").isNotNull.as("completed"))
      .orderBy(col("user_id"))
  }

  /**
   * Correlated subqueries through the SQL-TEXT surface: orders that have
   * a heavy line item (correlated EXISTS) and no returned one
   * (correlated NOT EXISTS). Catalyst decorrelates both into one
   * semi-join + anti-join plan — the point being that a user can write
   * the subquery form and still get the q12/q13 join physics. Integer
   * and string predicates only, so both engines agree bit-for-bit.
   */
  def q30CorrelatedExists(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_v")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders_v o
        |WHERE EXISTS (SELECT 1 FROM lineitem_v l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity > 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem_v l
        |                  WHERE l.l_orderkey = o.o_orderkey
        |                    AND l.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin)
  }

  /**
   * RANGE-frame sliding window — the VALUE-bounded frame family (q5/kq12
   * cover ROWS frames): for every event, how many events the same user
   * produced in the trailing 10 minutes, `RANGE BETWEEN 600e6 µs
   * PRECEDING AND CURRENT ROW` over integer-microsecond event time. A
   * RANGE frame is defined by the ORDER BY VALUE, so ties need no
   * tiebreak — the count is identical under any peer order, which makes
   * it cross-engine deterministic by construction. One shuffle on
   * user_id; per-row O(1) via the sliding frame.
   */
  def q29SlidingRange(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-600000000L, 0)
    ev.withColumn("n_10min", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"), col("us"), col("n_10min"))
      .orderBy(col("event_id"))
  }

  /**
   * Analytic rank functions — `percent_rank`, `cume_dist`, `ntile` in one
   * pass (the remaining window-function family beyond q5's aggregates and
   * row_number). One shuffle on the partition key; the ORDER BY carries
   * `event_id` as tiebreak so every rank is deterministic, which makes
   * the rational-arithmetic outputs ((rank−1)/(n−1), rn/n) bit-identical
   * across engines. ntile follows the standard first-(n mod k)-buckets-
   * get-the-extra-row definition in both engines; DuckDB's BIGINT ntile
   * and row_number are cast to match Spark's INT/INT.
   */
  def q27WindowRanks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    ev.select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("quartile", ntile(4).over(w))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------- registration

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q2_topk" -> (q2TopK _),
    "q3_join_broadcast" -> (q3JoinBroadcast _),
    "q4_join_large" -> (q4JoinLarge _),
    "q5_window" -> (q5Window _),
    "q6_setops" -> (q6SetOps _),
    "q7_string" -> (q7String _),
    "q8_datetime" -> (q8DateTime _),
    "q9_math" -> (q9Math _),
    "q10_distinct_having" -> (q10DistinctHaving _),
    "q11_rollup" -> (q11Rollup _),
    "q12_semi" -> (q12Semi _),
    "q13_anti" -> (q13Anti _),
    "q14_array" -> (q14Array _),
    "q15_map" -> (q15Map _),
    "q16_typed_agg" -> (q16TypedAgg _),
    "q17_pivot" -> (q17Pivot _),
    "q18_cube" -> (q18Cube _),
    "q19_hash_sample" -> (q19HashSample _),
    "q20_sketch" -> (q20Sketch _),
    "q21_stats" -> (q21Stats _),
    "q22_asof_join" -> (q22AsofJoin _),
    "q23_range_join" -> (q23RangeJoin _),
    "q24_salted_join" -> (q24SaltedJoin _),
    "q32_skew_join" -> (q32SkewJoin _),
    "q33_bloom_join" -> (q33BloomJoin _),
    "q34_dpp_join" -> (q34DppJoin _),
    "q35_aqe_bhj" -> (q35AqeBhj _),
    "q25_sessionize" -> (q25Sessionize _),
    "q26_funnel" -> (q26Funnel _),
    "q27_window_ranks" -> (q27WindowRanks _),
    "q28_grouping_sets" -> (q28GroupingSets _),
    "q29_sliding_range" -> (q29SlidingRange _),
    "q30_correlated_exists" -> (q30CorrelatedExists _),
    "q31_sequence_funnel" -> (q31SequenceFunnel _),
    "q36_recursive" -> (q36Recursive _),
    "q37_variant" -> (q37Variant _),
    "q38_unpivot" -> (q38Unpivot _),
    "q39_lateral" -> (q39Lateral _),
    "q40_zorder" -> (q40Zorder _),
    "q41_attribution" -> (q41Attribution _),
    "q42_rfm" -> (q42Rfm _),
    "q43_listagg" -> (q43Listagg _),
    "q44_scd2" -> (q44Scd2 _),
    "q45_temporal_join" -> (q45TemporalJoin _),
    "q46_incremental_agg" -> (q46IncrementalAgg _),
    "q47_sql_udf" -> (q47SqlUdf _),
    "q48_pivot" -> (q48Pivot _),
    "q49_dq_audit" -> (q49DqAudit _),
    "q50_merge" -> ((s: SparkSession, d: String) => q50Merge(s, d)),
    "q51_ordered_set" -> (q51OrderedSet _),
    "q52_qualify" -> (q52Qualify _),
    "q53_bitmap_distinct" -> (q53BitmapDistinct _),
    "q54_nullsafe_join" -> (q54NullsafeJoin _),
    "q55_asof_tolerance" -> ((s: SparkSession, d: String) =>
      q55AsofTolerance(s, d)),
    "q56_try_cast" -> (q56TryCast _),
    "q57_not_in_trap" -> (q57NotInTrap _)
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q2_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q3_join_broadcast" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q4_join_large" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q5_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, cum_spend FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER w AS INT) AS rn,
        |    CAST(rank() OVER w AS INT) AS rnk,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |         OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS cum_spend
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q6_setops" ->
      """WITH b97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
        |     b98 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |SELECT o_custkey, '1997_only' AS bucket FROM (SELECT * FROM b97 EXCEPT SELECT * FROM b98)
        |UNION ALL
        |SELECT o_custkey, '1998_only' AS bucket FROM (SELECT * FROM b98 EXCEPT SELECT * FROM b97)
        |ORDER BY bucket, o_custkey""".stripMargin,

    "q7_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  lower(p_brand) AS lbrand,
        |  substring(p_type, 1, 5) AS type5,
        |  length(p_name) AS name_len,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
        |  concat_ws('/', p_brand, p_type) AS brand_type,
        |  contains(p_name, 'er') AS has_er
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin,

    "q8_datetime" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y,
        |  month(o_orderdate) AS m,
        |  dayofmonth(o_orderdate) AS d,
        |  quarter(o_orderdate) AS q,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,

    "q9_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(sqrt(l_quantity), 6) AS sqrt_qty,
        |  round(ln(l_extendedprice), 6) AS ln_price,
        |  round(pow(1.0 + l_discount, 2), 6) AS pow_disc,
        |  round(abs(l_tax - 0.05), 6) AS abs_tax,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |  l_partkey % 7 AS mod_part
        |FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q10_distinct_having" ->
      """SELECT c_mktsegment,
        |  COUNT(DISTINCT c_nationkey) AS n_nations,
        |  COUNT(*) AS n_customers,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_bal
        |FROM customer GROUP BY 1 HAVING COUNT(*) > 5 ORDER BY 1""".stripMargin,

    "q11_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q12_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin,

    "q13_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q14_array" ->
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        |  round(sqrt(list_sum(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
        |  label
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,

    "q15_map" ->
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
        |  CAST(json_extract(props, '$.k') AS INT) AS k_val,
        |  len(json_keys(props)) AS n_keys
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin,

    "q16_typed_agg" ->
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_quantity))), 4) AS geo_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q17_pivot" -> {
      val cols = Seq("click", "error", "purchase", "signup", "view").map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(",\n  ")
      s"""SELECT user_id,
         |  $cols
         |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin
    },

    "q18_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q19_hash_sample" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE substr(md5(l_orderkey || ':' || l_linenumber), 1, 1) IN ('0', '1')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // The oracle asserts the sketch error-bound booleans as TRUE: DuckDB
    // recomputes the exact distinct count / exact interpolated median, and
    // Spark's side only hash-matches if its HLL and KLL-ish estimates sit
    // inside the stated envelopes.
    "q20_sketch" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS hll_within_15pct,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  TRUE AS approx_median_within_2
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q21_stats" ->
      """WITH m AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sdd,
        |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sqd,
        |    round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |    round(quantile_cont(l_quantity, 0.5), 6) AS median,
        |    round(quantile_cont(l_quantity, 0.95), 6) AS p95,
        |    count(*) AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, p25, median, p95,
        |  round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS stddev_qty,
        |  round((sqd - s1 * sd / n) /
        |        (sqrt(s2 - s1 * s1 / n) * sqrt(sdd - sd * sd / n)), 6)
        |    AS corr_qty_disc,
        |  n_rows AS n
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // q22: the oracle mirrors the window formulation (not DuckDB's native
    // ASOF JOIN) so the equal-ts tiebreak — signup visible at its own ts,
    // larger event_id wins — is bit-identical on both engines.
    "q22_asof_join" ->
      """WITH tagged AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CASE WHEN event_type = 'signup' THEN event_id END AS sid,
        |    CASE WHEN event_type = 'signup' THEN ts END AS sts,
        |    CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_sig
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    last_value(sid IGNORE NULLS) OVER w_asof AS sig_id,
        |    last_value(sts IGNORE NULLS) OVER w_asof AS sig_ts
        |  FROM tagged
        |  WINDOW w_asof AS (PARTITION BY user_id
        |    ORDER BY ts, is_sig DESC, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts, event_type, sig_id, sig_ts,
        |  epoch_us(ts) - epoch_us(sig_ts) AS us_since_signup
        |FROM w WHERE event_type <> 'signup' ORDER BY event_id""".stripMargin,

    // q23: the oracle runs the naive inequality join the bucketed plan
    // replaces — identical output, quadratic plan (fixture-scale only).
    "q23_range_join" ->
      """WITH err AS (SELECT event_id, epoch_us(ts) AS us FROM events
        |             WHERE event_type = 'error'),
        |f AS (SELECT epoch_us(ts) AS us, user_id FROM events),
        |c AS (SELECT e.event_id, count(*) AS n_events_5m,
        |             count(DISTINCT f.user_id) AS n_users_5m
        |      FROM err e JOIN f
        |        ON f.us >= e.us - 300000000 AND f.us < e.us
        |      GROUP BY 1)
        |SELECT e.event_id, COALESCE(n_events_5m, 0) AS n_events_5m,
        |       COALESCE(n_users_5m, 0) AS n_users_5m
        |FROM err e LEFT JOIN c USING (event_id) ORDER BY event_id""".stripMargin,

    // q32: AQE's runtime skew split changes only the physical execution —
    // the oracle is the same logical join/aggregate.
    "q32_skew_join" ->
      """WITH f AS (SELECT event_id,
        |    CASE WHEN event_id % 10 < 7 THEN 'hot' ELSE event_type END AS k,
        |    "value" FROM events),
        |d AS (SELECT * FROM (VALUES ('hot', 10), ('click', 20),
        |    ('error', 30), ('purchase', 40), ('signup', 50), ('view', 60))
        |    AS t(k, w))
        |SELECT k, CAST(w AS BIGINT) AS k_weight, COUNT(*) AS n,
        |  round(CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS sum_v
        |FROM f JOIN d USING (k) GROUP BY k, w ORDER BY k""".stripMargin,

    // q33: the runtime bloom filter changes only which probe rows reach
    // the shuffle — the oracle is the plain filtered join.
    "q35_aqe_bhj" ->
      """WITH urgent AS (SELECT o_orderkey,
        |    max(CAST(o_totalprice AS DECIMAL(18,2))) AS o_price
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0
        |  GROUP BY 1)
        |SELECT l_linestatus, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(o_price) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN urgent ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q33_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 100 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q34: DPP prunes which partitions are SCANNED, never which rows
    // qualify — the oracle is the plain weekend aggregate (DuckDB
    // dayofweek: 0 = Sunday, 6 = Saturday; Spark's 1/7).
    "q34_dpp_join" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE dayofweek(ts) IN (0, 6)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q24: salting changes only the physical partitioning — the oracle is
    // the plain unsalted join.
    "q24_salted_join" ->
      """WITH dim AS (SELECT event_type,
        |    round(CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE)
        |          / COUNT(*), 4) AS type_avg
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type, type_avg
        |FROM events JOIN dim USING (event_type) ORDER BY event_id""".stripMargin,

    "q25_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |    CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                  THEN 1 ELSE 0 END)
        |         OVER (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us,
        |  max(us) - min(us) AS duration_us
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,

    "q26_funnel" ->
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
        |           FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
        |      FROM events e JOIN s USING (user_id)
        |      WHERE e.event_type = 'purchase'
        |        AND epoch_us(e.ts) >= s.signup_us
        |      GROUP BY 1)
        |SELECT s.user_id, signup_us, purchase_us,
        |  purchase_us - signup_us AS lag_us,
        |  COALESCE(purchase_us - signup_us <= 86400000000, FALSE)
        |    AS converted_24h
        |FROM s LEFT JOIN p USING (user_id) ORDER BY s.user_id""".stripMargin,

    "q31_sequence_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
        |            FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        |       FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        |       GROUP BY 1)
        |SELECT s1.user_id, t1, t2, t3, t3 IS NOT NULL AS completed
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin,

    "q30_correlated_exists" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity > 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey
        |                    AND l.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,

    // q29: DuckDB count(*) OVER RANGE → BIGINT, matches Spark's LONG;
    // the frame is value-bounded so tie order is irrelevant
    "q29_sliding_range" ->
      """SELECT user_id, event_id, epoch_us(ts) AS us,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS n_10min
        |FROM events ORDER BY event_id""".stripMargin,

    "q28_grouping_sets" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  o_orderstatus, o_orderpriority,
        |  count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    "q27_window_ranks" ->
      """SELECT event_id, event_type, "value",
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY "value", event_id)
        |ORDER BY event_id""".stripMargin,

    // q36: the identical recursive closure — DuckDB's `//` is Spark's
    // `div` on BIGINTs (both floor on the positive key domain)
    "q36_recursive" ->
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS key, c_custkey AS cur, 0 AS depth,
        |         CAST(c_custkey AS VARCHAR) AS path
        |  FROM customer
        |  UNION ALL
        |  SELECT c.key, e.parent, c.depth + 1,
        |         CONCAT(c.path, '>', CAST(e.parent AS VARCHAR))
        |  FROM chain c
        |  JOIN (SELECT c_custkey AS child, c_custkey // 10 AS parent
        |        FROM customer WHERE c_custkey > 9) e
        |    ON c.cur = e.child
        |)
        |SELECT key AS c_custkey, cur AS root, depth, path,
        |       count(*) OVER (PARTITION BY cur) AS root_size
        |FROM chain WHERE cur <= 9
        |ORDER BY c_custkey""".stripMargin,

    // q37: the oracle computes from the ORIGINAL columns — if any typed
    // value failed the encode -> variant -> extract round trip on the
    // Spark side, the hash would split
    "q37_variant" ->
      """SELECT event_type AS vtype, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |       AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS sum_v_cents
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q38: the UNION ALL melt the native unpivot replaces
    "q38_unpivot" ->
      """WITH w AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, "value" FROM (
        |  SELECT l_returnflag, 'sum_qty_cents' AS metric,
        |         sum_qty_cents AS "value" FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'n_rows', n_rows FROM w)
        |ORDER BY l_returnflag, metric""".stripMargin,

    // q39: the identical correlated LATERAL text
    "q39_lateral" ->
      """SELECT o.o_orderkey, t.l_linenumber, t.price_cents
        |FROM orders o,
        |LATERAL (SELECT l_linenumber,
        |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |                AS BIGINT) AS price_cents
        |         FROM lineitem l
        |         WHERE l.l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber
        |         LIMIT 2) t
        |WHERE o.o_orderkey % 10 = 0
        |ORDER BY o.o_orderkey, price_cents DESC, l_linenumber""".stripMargin,

    // q40: identical Morton bit-interleave via DuckDB's native operators
    "q40_zorder" -> {
      val zd = mortonTerms("x", "y",
        (e, n) => s"(($e) << $n)", (e, n) => s"$e >> $n")
      s"""WITH li AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y
         |            FROM lineitem),
         |t AS (SELECT x, y, ($zd) >> 10 AS zfile, x >> 2 AS lfile FROM li),
         |stats AS (
         |  SELECT 'zorder' AS layout, zfile AS f, min(x) AS min_x,
         |    max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |  FROM t GROUP BY 2
         |  UNION ALL
         |  SELECT 'linear', lfile, min(x), max(x), min(y), max(y)
         |  FROM t GROUP BY 2),
         |q(query_name, xlo, xhi, ylo, yhi) AS (VALUES
         |  ('q1_quadrant', 0, 63, 0, 63),
         |  ('q2_x_stripe', 0, 15, 0, 255),
         |  ('q3_y_stripe', 0, 255, 0, 15)),
         |touched AS (
         |  SELECT s.layout, q.query_name, count(*) AS files_touched
         |  FROM stats s, q
         |  WHERE s.min_x <= q.xhi AND s.max_x >= q.xlo
         |    AND s.min_y <= q.yhi AND s.max_y >= q.ylo
         |  GROUP BY 1, 2),
         |ft AS (SELECT layout, count(*) AS files_total FROM stats
         |       GROUP BY 1),
         |rs AS (SELECT q.query_name, count(*) AS rows_selected
         |       FROM li, q
         |       WHERE li.x BETWEEN q.xlo AND q.xhi
         |         AND li.y BETWEEN q.ylo AND q.yhi
         |       GROUP BY 1)
         |SELECT t.layout, t.query_name, ft.files_total, t.files_touched,
         |  rs.rows_selected
         |FROM touched t JOIN ft USING (layout) JOIN rs USING (query_name)
         |ORDER BY layout, query_name""".stripMargin
    },

    // q41: the same per-user carry window (last_value IGNORE NULLS)
    "q41_attribution" ->
      """WITH t AS (
        |  SELECT event_type, ts, "value",
        |    last_value(CASE WHEN event_type = 'click' THEN
        |        struct_pack(c_us := epoch_us(ts),
        |          campaign := CAST(json_extract_string(props, '$.k')
        |                           AS BIGINT))
        |      END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
        |  FROM events)
        |SELECT touch.campaign AS campaign, count(*) AS n_purchases,
        |  CAST(sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS revenue_cents
        |FROM t
        |WHERE event_type = 'purchase' AND touch IS NOT NULL
        |  AND epoch_us(ts) - touch.c_us <= 604800000000
        |GROUP BY 1 ORDER BY campaign""".stripMargin,

    // q42: identical quantile formula 5 − ((rn−1)·5 // n) over the same
    // totally-ordered rankings
    "q42_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_order,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |r AS (SELECT p.*,
        |    CAST(date_diff('day', CAST(p.last_order AS DATE),
        |                   CAST(m.mx AS DATE)) AS BIGINT) AS recency_days
        |  FROM per p, mx m),
        |sc AS (SELECT *, count(*) OVER () AS n,
        |    row_number() OVER (ORDER BY recency_days, o_custkey) AS rn_r,
        |    row_number() OVER (ORDER BY frequency DESC, o_custkey) AS rn_f,
        |    row_number() OVER (ORDER BY monetary_cents DESC, o_custkey)
        |      AS rn_m
        |  FROM r)
        |SELECT 5 - ((rn_r - 1) * 5) // n AS r_score,
        |  5 - ((rn_f - 1) * 5) // n AS f_score,
        |  5 - ((rn_m - 1) * 5) // n AS m_score,
        |  count(*) AS n_customers,
        |  CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
        |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // q43: DuckDB's ordered string_agg is the same SQL:2023 operator
    "q43_listagg" ->
      """SELECT r.r_name, count(*) AS n_nations,
        |  string_agg(n.n_name, ', ' ORDER BY n.n_name) AS nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1 ORDER BY r_name""".stripMargin,

    // q44: identical change-detection lag and interval lead over the
    // same (o_orderdate, o_orderkey) per-customer ordering
    "q44_scd2" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |ch AS (SELECT * FROM c
        |       WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS version,
        |  o_orderstatus AS status, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
        |FROM ch ORDER BY o_custkey, version""".stripMargin,

    // q45: the q44 dimension rebuilt inline, then the identical
    // equi-join + validity-range lookup
    "q45_temporal_join" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |ch AS (SELECT * FROM c
        |       WHERE prev IS NULL OR prev <> o_orderstatus),
        |dim AS (
        |  SELECT o_custkey, o_orderstatus AS status,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS version,
        |    o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM ch),
        |f AS (
        |  SELECT l.l_shipdate, l.l_quantity, l.l_extendedprice,
        |         o.o_custkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT d.status, d.valid_to IS NULL AS is_current,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS price_cents
        |FROM f JOIN dim d ON f.o_custkey = d.o_custkey
        |  AND (d.version = 1 OR f.l_shipdate >= d.valid_from)
        |  AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q46: the oracle is the one-shot recompute — hash equality IS the
    // merge-equals-recompute proof; the base/delta split replays the
    // same month-boundary cutoff
    "q46_incremental_agg" ->
      """WITH cut AS (
        |  SELECT date_trunc('month', max(o_orderdate)) AS cut
        |  FROM orders)
        |SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderdate < cut THEN 1 ELSE 0 END)
        |    AS BIGINT) AS base_n,
        |  CAST(sum(CASE WHEN o_orderdate >= cut THEN 1 ELSE 0 END)
        |    AS BIGINT) AS delta_n,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS cents
        |FROM orders, cut
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q47: the UDF body and the lateral alias inlined literally
    "q47_sql_udf" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) // count(*) AS avg_cents
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q48: conditional sums mirror the explicit pivot value list;
    // sum(BIGINT) -> HUGEINT cast back, absent cells to 0
    "q48_pivot" -> {
      val cols = Seq(1995, 1996, 1997, 1998, 1999, 2000, 2001).map(y =>
        s"""  COALESCE(CAST(sum(CASE WHEN yr = $y THEN cents END)
           |    AS BIGINT), 0) AS y$y""".stripMargin).mkString(",\n")
      s"""WITH o AS (
        |  SELECT o_orderpriority, year(o_orderdate) AS yr,
        |    CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderpriority,
        |$cols
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // q49: anti-joins as NOT EXISTS; every metric BIGINT, pass BOOLEAN
    "q49_dq_audit" ->
      """SELECT * FROM (
        |  SELECT 'orders' AS tbl, 'pk_unique' AS chk,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS metric,
        |    count(*) - count(DISTINCT o_orderkey) = 0 AS pass
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'fk_customer', CAST(count(*) AS BIGINT),
        |    count(*) = 0
        |  FROM orders o WHERE NOT EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'lineitem', 'fk_orders', CAST(count(*) AS BIGINT),
        |    count(*) = 0
        |  FROM lineitem l WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'customer', 'name_complete',
        |    CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM customer
        |  UNION ALL
        |  SELECT 'lineitem', 'qty_range',
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |         THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |        THEN 1 ELSE 0 END) = 0
        |  FROM lineitem
        |  UNION ALL
        |  -- the envelope nulls value on tombstones (event_id % 50 = 0)
        |  SELECT 'changelog', 'value_null_budget',
        |    CAST(sum(CASE WHEN event_id % 50 = 0 OR "value" IS NULL
        |         THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN event_id % 50 = 0 OR "value" IS NULL
        |        THEN 1 ELSE 0 END) * 40 <= count(*)
        |  FROM events)
        |ORDER BY tbl, chk""".stripMargin,

    // q50: identical per-side aggregates + FULL OUTER JOIN on the merge
    // key; sum(BIGINT) -> HUGEINT cast back
    "q50_merge" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate,
        |    CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS BIGINT) AS cents
        |  FROM orders),
        |t AS (SELECT o_custkey, o_orderpriority, count(*) AS t_n,
        |        CAST(sum(cents) AS BIGINT) AS t_cents
        |      FROM o WHERE o_orderdate < DATE '2001-01-01' GROUP BY 1, 2),
        |s AS (SELECT o_custkey, o_orderpriority, count(*) AS s_n,
        |        CAST(sum(cents) AS BIGINT) AS s_cents
        |      FROM o WHERE o_orderdate >= DATE '2001-01-01' GROUP BY 1, 2)
        |SELECT o_custkey, o_orderpriority,
        |  CASE WHEN s_n IS NULL THEN 'keep'
        |       WHEN t_n IS NULL THEN 'insert'
        |       ELSE 'update' END AS action,
        |  COALESCE(t_n, 0) + COALESCE(s_n, 0) AS n_orders,
        |  COALESCE(t_cents, 0) + COALESCE(s_cents, 0) AS cents
        |FROM t FULL OUTER JOIN s USING (o_custkey, o_orderpriority)
        |ORDER BY o_custkey, o_orderpriority""".stripMargin,

    // q51: DuckDB quantile_cont uses the same pos = q*(n-1) linear
    // interpolation; at these exact-fraction quantiles over integer
    // cents the double result is exact, so formula order cannot drift
    "q51_ordered_set" ->
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT), 0.25) AS p25_cents,
        |  quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT), 0.5) AS p50_cents,
        |  quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT), 0.75) AS p75_cents,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) FILTER (WHERE l_quantity > 25) AS BIGINT)
        |    AS heavy_cents
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // q52: DuckDB's native QUALIFY — same winner by the same tie-break
    "q52_qualify" ->
      """SELECT o_custkey, o_orderkey, o_totalprice AS best_price
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY o_custkey""".stripMargin,

    // q53: plain count(DISTINCT) at both grains — the bitmap path must
    // reproduce it exactly (sum(count) -> HUGEINT, cast to BIGINT)
    "q53_bitmap_distinct" ->
      """WITH s AS (
        |  SELECT l_returnflag, l_linestatus,
        |    count(DISTINCT l_partkey) AS distinct_parts
        |  FROM lineitem GROUP BY 1, 2),
        |f AS (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS flag_distinct
        |  FROM lineitem GROUP BY 1)
        |SELECT s.l_returnflag, count(*) AS n_statuses,
        |  CAST(sum(s.distinct_parts) AS BIGINT) AS sum_status_distinct,
        |  CAST(first(f.flag_distinct) AS BIGINT) AS flag_distinct
        |FROM s JOIN f USING (l_returnflag)
        |GROUP BY s.l_returnflag ORDER BY s.l_returnflag""".stripMargin,

    // q54: IS NOT DISTINCT FROM — DuckDB's null-safe equality; NULLS
    // FIRST matches Spark's asc default
    "q54_nullsafe_join" ->
      """WITH li AS (
        |  SELECT *, CASE WHEN l_partkey % 10 < 3 THEN NULL
        |                 ELSE l_partkey % 10 END AS k
        |  FROM lineitem),
        |dim AS (
        |  SELECT k, CAST(sum(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |       * 100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS dim_qty_cents
        |  FROM li WHERE l_orderkey % 2 = 1 GROUP BY k)
        |SELECT p.k AS "key", count(*) AS n_rows,
        |  first(dim.dim_qty_cents) AS dim_qty_cents
        |FROM li p JOIN dim ON p.k IS NOT DISTINCT FROM dim.k
        |WHERE p.l_orderkey % 2 = 0
        |GROUP BY p.k ORDER BY p.k NULLS FIRST""".stripMargin,

    // q55: q22's window form + the staleness CASE; 48 h tolerance
    "q55_asof_tolerance" ->
      """WITH tagged AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CASE WHEN event_type = 'signup' THEN event_id END AS sid,
        |    CASE WHEN event_type = 'signup' THEN ts END AS sts,
        |    CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_sig
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    last_value(sid IGNORE NULLS) OVER w_asof AS sig_id0,
        |    last_value(sts IGNORE NULLS) OVER w_asof AS sig_ts0
        |  FROM tagged
        |  WINDOW w_asof AS (PARTITION BY user_id
        |    ORDER BY ts, is_sig DESC, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |a AS (SELECT event_id, user_id, ts,
        |        epoch_us(ts) - epoch_us(sig_ts0) AS age0, sig_id0
        |      FROM w WHERE event_type <> 'signup')
        |SELECT event_id, user_id, ts,
        |  CASE WHEN age0 <= 172800000000 THEN sig_id0 END AS sig_id,
        |  CASE WHEN age0 <= 172800000000 THEN age0 END AS age_us,
        |  CASE WHEN age0 IS NULL THEN 'none'
        |       WHEN age0 > 172800000000 THEN 'stale'
        |       ELSE 'fresh' END AS match_state
        |FROM a ORDER BY event_id""".stripMargin,

    // q56: DuckDB TRY_CAST has identical semantics; counts + the
    // decimal-frozen cent sum of the successful parses
    "q56_try_cast" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    TRY_CAST(CASE WHEN l_partkey % 7 = 0 THEN 'N/A'
        |                  ELSE CAST(l_quantity AS VARCHAR) END
        |      AS DECIMAL(18,2)) AS parsed
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows,
        |  count(parsed) AS n_parsed,
        |  CAST(sum(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_failed,
        |  CAST(sum(CAST(parsed * 100 AS BIGINT)) AS BIGINT)
        |    AS parsed_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // q57: both engines implement the standard three-valued NOT IN
    "q57_not_in_trap" ->
      """WITH keys AS (
        |  SELECT c_custkey AS k FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL SELECT CAST(NULL AS BIGINT)),
        |keys_clean AS (SELECT k FROM keys WHERE k IS NOT NULL)
        |SELECT
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT k FROM keys)) AS not_in_with_null,
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT k FROM keys_clean))
        |    AS not_in_clean,
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM keys x
        |                     WHERE x.k = o.o_custkey)) AS not_exists,
        |  (SELECT count(*) FROM orders) AS n_orders""".stripMargin
  )
}
