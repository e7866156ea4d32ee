package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.Tables

/**
 * Mergeable sketch operators — the data structures that make "count
 * distinct users" and "top terms" answerable on a 1000-executor cluster
 * without ever centralizing raw values.
 *
 * ES's `cardinality` aggregation (Kibana's "Unique Count" metric) is
 * HyperLogLog-based precisely because HLL registers MERGE: every shard
 * summarizes locally and the coordinating node folds fixed-size register
 * vectors (Flajolet et al. 2007, "HyperLogLog: the analysis of a
 * near-optimal cardinality estimation algorithm"). Count-min sketch
 * (Cormode & Muthukrishnan 2005) is the frequency-table analog: cells
 * add, so per-partition sketches sum into a corpus sketch.
 *
 * Spark ships both shapes (`approx_count_distinct`'s HLL++ and
 * `CountMinSketch`), and q20 already exercises the built-in inside an
 * error-envelope oracle. These entries instead build the sketches from
 * FIRST PRINCIPLES with the repo's pinned md5-32 hash, which buys what
 * the built-ins cannot give: a DuckDB oracle that replays every register
 * and cell EXACTLY, so the driver hash-checks the sketch construction,
 * the merge law, and the estimator arithmetic — not just an error bound.
 *
 * Cross-engine determinism: register indices/values and all cell counts
 * are integers; the only doubles are the final estimators, computed as
 * ONE fixed-shape IEEE expression per row (left-assoc literal products,
 * one division, `ln` — bit-identical across engines per the x22/x24/x36
 * precedent) and rounded to 6dp.
 *
 * Scale posture: both sketches are one explode + one map-side-combinable
 * aggregation into a BOUNDED key domain (64 registers / 4x16 cells per
 * source), so the shuffle carries kilobytes regardless of corpus size;
 * the merge step aggregates sketch rows, never raw tokens. No collects,
 * no UDFs.
 */
object Sketches {

  /** Registers m = 64 (b = 6 bits); remaining 26 hash bits feed rho. */
  private val M = 64
  /** rho is capped at 27 = 26 remainder bits + 1 (w = 0 case). */
  private val RhoCap = 27
  /** 2^27, the scale that makes sum(2^-M_j) an exact integer. */
  private val Scale = 134217728L

  /** source-tagged analyzed tokens of the documents corpus. */
  private def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)

  /**
   * Two sketched fields per source: the ~30-token fixture vocabulary
   * (`token`, exercising the linear-counting correction) and the
   * high-cardinality doc-scoped occurrence key (`doc_token`, thousands
   * of distinct values — exercising the raw alpha*m^2/sum estimator).
   * Cardinality over BOTH regimes is what the ES agg faces in practice.
   */
  private def hllFields(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(spark, dir)
    t.select(col("source"), lit("token").as("field"), col("token").as("v"))
      .unionByName(t.select(col("source"), lit("doc_token").as("field"),
        concat(col("token"), lit("#"), col("doc_id")).as("v")))
  }

  /**
   * x94 — HLL cardinality (ES `cardinality` / Kibana Unique Count):
   * per-source distinct-token estimates plus the register-max MERGED
   * `__all__` sketch, next to the exact distinct counts the estimate
   * approximates. The merged row is computed FROM THE PER-SOURCE
   * REGISTERS (max per index), never from raw tokens — that is the
   * mergeability law a shard-parallel deployment relies on, here made
   * hash-checkable. `s_scaled` = sum_j 2^(27 - M_j) stays an exact
   * BIGINT; the raw estimator alpha_64 * m^2 / sum(2^-M_j) and the
   * small-range linear-counting correction m * ln(m / V) (Flajolet's
   * E <= 2.5m rule) are each one pinned IEEE expression.
   */
  def hllCardinality(spark: SparkSession, dir: String): DataFrame = {
    val vals = hllFields(spark, dir)
    val regs = withRegister(vals, col("v"))
      .groupBy(col("source"), col("field"), col("j"))
      .agg(max(col("rho")).as("m"))
    // register-max merge: the cross-source sketch without re-reading data
    val merged = regs.groupBy(col("field"), col("j"))
      .agg(max(col("m")).as("m"))
      .select(lit("__all__").as("source"), col("field"), col("j"), col("m"))
    val sketch = registerSums(regs.unionByName(merged), "source", "field")
    val exact = vals.groupBy(col("source"), col("field"))
      .agg(countDistinct(col("v")).as("exact_distinct"))
      .unionByName(vals.groupBy(col("field"))
        .agg(countDistinct(col("v")).as("exact_distinct"))
        .select(lit("__all__").as("source"), col("field"),
          col("exact_distinct")))
    withEstimate(sketch.join(exact, Seq("source", "field")))
      .select(col("source"), col("field"), col("exact_distinct"),
        col("v_zero"), col("s_scaled"), col("hll_est"))
      .orderBy(col("field"), col("source"))
  }

  /** `df` plus the pinned md5-32 hash `h` of `v`, its register index
    * `j` (low 6 bits) and its rank `rho` (from the remaining bits). */
  private[graft] def withRegister(df: DataFrame, v: Column): DataFrame =
    df.withColumn("h",
        conv(substring(md5(v), 1, 8), 16, 10).cast("long"))
      .withColumn("j", col("h") % M)
      .withColumn("rho", expr(
        s"CASE WHEN h div $M = 0 THEN $RhoCap " +
          s"ELSE $RhoCap - length(bin(h div $M)) END"))

  /** Per `keys` group of registers `m`: `s_scaled` = sum_j 2^(27 - M_j)
    * over all 64 registers (an absent one counts 2^27) as an exact
    * BIGINT, and the empty-register count `v_zero`. */
  private def registerSums(regs: DataFrame, keys: String*): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($RhoCap - m AS INT))"))
        .as("s_present"),
        count(lit(1)).as("n_present"))
      .select(keys.map(col) ++ Seq(
        (col("s_present") + (lit(M) - col("n_present")) * lit(Scale))
          .cast("long").as("s_scaled"),
        (lit(M) - col("n_present")).cast("long").as("v_zero")): _*)

  /** `df` plus the estimate `hll_est` from its `s_scaled`/`v_zero`. */
  private[graft] def withEstimate(df: DataFrame): DataFrame =
    // alpha_64 = 0.709 (Flajolet's constant for m = 64); the literal
    // product folds left-assoc identically in both engines
    df.withColumn("e_raw",
        lit(0.709) * lit(4096.0) * lit(Scale.toDouble)
          / col("s_scaled").cast("double"))
      .withColumn("hll_est", round(
        when(col("e_raw") <= lit(2.5 * M) && col("v_zero") > 0,
          lit(M.toDouble) * log(lit(M.toDouble) / col("v_zero").cast("double")))
          .otherwise(col("e_raw")), 6))

  /** Hourly per-user registers (`bucket`, `j`, `m`) of the sliding
    * uniques family (kq65, kq102), from rows with `bucket` and `key`. */
  private[graft] def hourlyRegisters(df: DataFrame): DataFrame =
    withRegister(df, concat(lit("uu:"), col("key")))
      .groupBy(col("bucket"), col("j")).agg(max(col("rho")).as("m"))

  /**
   * `df`'s hour-aligned `bucket` rows, projected to `keep`, paired with
   * every bucket `b` of `buckets` whose trailing 24 h they fall in. A
   * 24-way explode + broadcast EQUI-join: `bucket BETWEEN b-23h AND b`
   * would plan as a BroadcastNestedLoopJoin, every row
   * interval-compared against EVERY bucket, O(rows x buckets). Emitting
   * each row's 24 target buckets and hash-joining the bucket list gives
   * identical (b, row) pairs (bucket in [b-23h, b] <=> b in [bucket,
   * bucket+23h], and b must exist in the list), O(rows x 24) and
   * skew-free. The 24 targets are whole UTC hours apart, so the session
   * time zone, in which the buckets were hour-truncated, must be a fixed
   * whole-hour offset from UTC (a DST or half-hour zone would misalign
   * or skip buckets); any other zone is refused.
   */
  private[graft] def trailingDay(df: DataFrame, buckets: DataFrame,
      keep: String*): DataFrame = {
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    val rules = java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).getRules
    require(rules.isFixedOffset &&
        rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds % 3600 == 0,
      "trailingDay assumes hour buckets on whole UTC hours: the session " +
        s"time zone must be a fixed whole-hour offset from UTC, and '$tz' " +
        "is not")
    df.select(keep.map(col) :+ explode(expr(
        "sequence(bucket, bucket + INTERVAL 23 HOURS, INTERVAL 1 HOUR)"))
        .as("b"): _*)
      .join(broadcast(buckets), "b")
  }

  /** Per bucket `b` of `buckets`: the register-max merge of the hourly
    * registers `regs` over its trailing 24 h, as (`b`, `s_scaled`,
    * `v_zero`). */
  private[graft] def trailingDaySketch(regs: DataFrame,
      buckets: DataFrame): DataFrame =
    registerSums(trailingDay(regs, buckets, "j", "m")
      .groupBy(col("b"), col("j")).agg(max(col("m")).as("m")), "b")

  /** The serving estimate per bucket (kq102, kq105) from the hourly
    * registers alone: the bucket list comes from the register table
    * (buckets x 64 rows), never from a second events scan. */
  private[graft] def slidingUniques(regs: DataFrame): DataFrame = {
    val buckets = regs.select(col("bucket")).distinct()
      .withColumnRenamed("bucket", "b")
    withEstimate(trailingDaySketch(regs, buckets))
      .select(col("b").as("bucket"), col("v_zero"), col("s_scaled"),
        col("hll_est"))
      .orderBy(col("bucket"))
  }

  /** DuckDB replay of every register, the merge, and the estimator. */
  def hllOracle: String =
    s"""WITH tok AS (
       |  SELECT source, doc_id, t AS token
       |  FROM (SELECT source, doc_id,
       |          unnest(string_split(text, ' ')) AS t
       |        FROM documents)
       |  WHERE t <> ''),
       |vals AS (SELECT source, 'token' AS field, token AS v FROM tok
       |         UNION ALL
       |         SELECT source, 'doc_token' AS field,
       |                token || '#' || CAST(doc_id AS VARCHAR) AS v
       |         FROM tok),
       |h AS (SELECT source, field, v,
       |        ('0x' || substr(md5(v), 1, 8))::BIGINT AS h FROM vals),
       |r AS (SELECT source, field, h % $M AS j,
       |        CASE WHEN h // $M = 0 THEN $RhoCap
       |             ELSE $RhoCap - length(bin(h // $M)) END AS rho
       |      FROM h),
       |reg AS (SELECT source, field, j, max(rho) AS m
       |        FROM r GROUP BY 1, 2, 3),
       |reg2 AS (SELECT * FROM reg
       |         UNION ALL
       |         SELECT '__all__', field, j, max(m) FROM reg GROUP BY 2, 3),
       |sk AS (SELECT source, field,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST($RhoCap - m AS INT))
       |              + ($M - count(*)) * $Scale AS BIGINT) AS s_scaled,
       |         CAST($M - count(*) AS BIGINT) AS v_zero
       |       FROM reg2 GROUP BY 1, 2),
       |ex AS (SELECT source, field,
       |         CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
       |       FROM vals GROUP BY 1, 2
       |       UNION ALL
       |       SELECT '__all__', field, CAST(count(DISTINCT v) AS BIGINT)
       |       FROM vals GROUP BY 2),
       |e AS (SELECT sk.source, sk.field, exact_distinct, v_zero, s_scaled,
       |        0.709 * 4096.0 * ${Scale.toDouble}
       |          / CAST(s_scaled AS DOUBLE) AS e_raw
       |      FROM sk JOIN ex
       |        ON sk.source = ex.source AND sk.field = ex.field)
       |SELECT source, field, exact_distinct, v_zero, s_scaled,
       |  round(CASE WHEN e_raw <= ${2.5 * M} AND v_zero > 0
       |        THEN ${M.toDouble} * ln(${M.toDouble} / CAST(v_zero AS DOUBLE))
       |        ELSE e_raw END, 6) AS hll_est
       |FROM e ORDER BY field, source""".stripMargin

  /** CMS geometry: d = 4 salted hash rows, w = 16 columns. */
  private val D = 4
  private val W = 16

  private def cmsCell(tokenCol: String): String =
    s"conv(substring(md5(concat('cms', CAST(d AS STRING), ':', $tokenCol)), " +
      s"1, 8), 16, 10) % $W"

  /**
   * x96 — count-min heavy hitters: per-source CMS segments built in one
   * map-side-combinable pass, merged CELL-WISE (sums — the CMS merge
   * law), then the exact top-10 tokens probed against the merged sketch
   * (estimate = min over the 4 rows). CMS never under-counts, so
   * `over = cms_est - n_occ >= 0` — the oracle hash-checks the exact
   * overestimate of every probe, not a bound. At 100 TB the sketch is
   * 4x16 cells per source however large the corpus; only the top-k
   * probe touches exact counts (x73's bounded top-V shape).
   */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(spark, dir)
    val ds = array((0 until D).map(lit): _*)
    val segments = toks
      .select(col("source"), col("token"), explode(ds).as("d"))
      .withColumn("c", expr(cmsCell("token")))
      .groupBy(col("source"), col("d"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    // cell-wise merge of the per-source segment sketches
    val cms = segments.groupBy(col("d"), col("c"))
      .agg(sum(col("cnt")).as("cnt"))
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("token")).limit(10)
    val probes = top
      .select(col("token"), col("n_occ"), explode(ds).as("d"))
      .withColumn("c", expr(cmsCell("token")))
    probes.join(cms, Seq("d", "c"))
      .groupBy(col("token"), col("n_occ"))
      .agg(min(col("cnt")).as("cms_est"))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("n_occ").desc, col("token"))))
      .select(col("rank"), col("token"), col("n_occ"), col("cms_est"),
        (col("cms_est") - col("n_occ")).as("overcount"))
      .orderBy(col("rank"))
  }

  /** DuckDB replay of the cells, the cell-wise merge, and the probes. */
  def cmsOracle: String =
    s"""WITH tok AS (
       |  SELECT source, t AS token
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
       |        FROM documents)
       |  WHERE t <> ''),
       |occ AS (SELECT source, token, unnest(range($D)) AS d FROM tok),
       |cell AS (SELECT source, d,
       |           ('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':'
       |             || token), 1, 8))::BIGINT % $W AS c,
       |           count(*) AS cnt
       |         FROM occ GROUP BY 1, 2, 3),
       |cms AS (SELECT d, c, CAST(sum(cnt) AS BIGINT) AS cnt
       |        FROM cell GROUP BY 1, 2),
       |top AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ
       |        FROM tok GROUP BY 1
       |        ORDER BY n_occ DESC, token LIMIT 10),
       |probe AS (SELECT token, n_occ, unnest(range($D)) AS d FROM top),
       |est AS (SELECT p.token, p.n_occ, min(s.cnt) AS cms_est
       |        FROM (SELECT token, n_occ, d,
       |                ('0x' || substr(md5('cms' || CAST(d AS VARCHAR)
       |                  || ':' || token), 1, 8))::BIGINT % $W AS c
       |              FROM probe) p
       |        JOIN cms s ON p.d = s.d AND p.c = s.c
       |        GROUP BY 1, 2)
       |SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INT)
       |         AS rank,
       |       token, n_occ, CAST(cms_est AS BIGINT) AS cms_est,
       |       CAST(cms_est - n_occ AS BIGINT) AS overcount
       |FROM est ORDER BY rank""".stripMargin

  /** ⌊ln(1.02)·1e9⌋ — the frozen log-gamma of the x108 sketch
    * (γ = 1.02 ⇒ ~1 % relative value error). */
  private val LgNano: Long = math.floor(math.log(1.02) * 1e9).toLong

  /**
   * x108 — DDSKETCH-style MERGEABLE QUANTILE sketch (Masson et al.,
   * VLDB 2019), completing the mergeable-sketch family next to the
   * x94 HLL and x96 CMS: values map to log-spaced buckets
   * b = ⌈ln(x)/ln γ⌉ (γ = 1.02), per-shard segment sketches are just
   * (bucket → count) maps, and MERGE is bucket-wise addition — the
   * property that lets a 100 TB scan keep per-partition sketches of a
   * few hundred ints and combine them associatively, where exact
   * quantiles need a global sort. The quantile read-off — the smallest
   * bucket whose cumulative count reaches ⌈q·n/100⌉ — is EXACT in
   * bucket space (the bucket function is monotone), so the oracle
   * hash-checks it; the γ-bounded value reconstruction is the only
   * approximation, and the entry emits the exact order statistic next
   * to the sketch bucket so the bound is visible.
   *
   * Determinism: ln frozen to ⌊ln(x)·1e9⌋ and a positive ceiling
   * division by ⌊ln γ·1e9⌋ — all integer; ranks are integer ceilings.
   * The deliberate shard → merge detour (doc_id % 4 segments) is the
   * mergeability demonstration, pinned equal to the direct sketch in
   * SketchesSpec.
   */
  def ddSketchQuantiles(spark: SparkSession, dir: String,
      qs: Seq[Int] = Seq(50, 95, 99)): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val bucketed = docs.select(col("source"), col("doc_id"), col("n_chars"),
      expr(s"(cast(floor(ln(cast(n_chars as double)) * 1e9) as bigint)" +
        s" + $LgNano - 1) div $LgNano").as("bucket"),
      (col("doc_id") % 4).as("shard"))
    val segs = bucketed.groupBy(col("source"), col("shard"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val merged = segs.groupBy(col("source"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    val bySrc = Window.partitionBy(col("source"))
    val cum = merged
      .withColumn("cum", sum(col("cnt")).over(bySrc.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(bySrc))
    val qdf = broadcast(qs.toDF("q"))
    val sk = cum.crossJoin(qdf)
      .withColumn("rank", expr("(q * n + 99) div 100"))
      .where(col("cum") >= col("rank"))
      .groupBy(col("source"), col("q"), col("n"), col("rank"))
      .agg(min(col("bucket")).as("bucket"))
    val exact = docs
      .withColumn("rn", row_number().over(
        bySrc.orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(bySrc))
      .crossJoin(qdf)
      .where(col("rn") === expr("(q * n + 99) div 100"))
      .select(col("source"), col("q"), col("n_chars").as("exact_value"))
    val nb = merged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_buckets"))
    sk.join(exact, Seq("source", "q")).join(nb, "source")
      .select(col("source"), col("q"), col("n"), col("rank"),
        col("bucket"), col("exact_value"), col("n_buckets"))
      .orderBy(col("source"), col("q"))
  }

  /** x108's oracle: identical integer bucket function, shard → merge
    * detour, cumulative read-off, and exact order-statistic leg. */
  def ddSketchOracle: String =
    s"""WITH b AS (SELECT source, doc_id, n_chars,
       |    (CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e9) AS BIGINT)
       |     + $LgNano - 1) // $LgNano AS bucket,
       |    doc_id % 4 AS shard
       |  FROM documents),
       |segs AS (SELECT source, shard, bucket, count(*) AS cnt
       |         FROM b GROUP BY 1, 2, 3),
       |m AS (SELECT source, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
       |      FROM segs GROUP BY 1, 2),
       |c AS (SELECT *,
       |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM m),
       |q(q) AS (VALUES (50), (95), (99)),
       |sk AS (SELECT source, q, n, (q * n + 99) // 100 AS "rank",
       |         min(bucket) AS bucket
       |       FROM c, q WHERE cum >= (q * n + 99) // 100
       |       GROUP BY 1, 2, 3, 4),
       |e0 AS (SELECT source, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY n_chars, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY source) AS n
       |       FROM documents),
       |ex AS (SELECT e.source, q.q, e.n_chars AS exact_value
       |       FROM e0 e, q WHERE e.rn = (q.q * e.n + 99) // 100),
       |nb AS (SELECT source, count(*) AS n_buckets FROM m GROUP BY 1)
       |SELECT s.source, s.q, s.n, s."rank", s.bucket, ex.exact_value,
       |  nb.n_buckets
       |FROM sk s
       |JOIN ex ON s.source = ex.source AND s.q = ex.q
       |JOIN nb ON s.source = nb.source
       |ORDER BY s.source, s.q""".stripMargin

  /** KMV hash domain: 15 md5 hex chars = 60 bits, exactly representable
    * in BIGINT on both engines (the kq84 md5-fold recipe widened from 8
    * to 15 chars). */
  private val KmvDom = 1152921504606846976L // 2^60
  private val KmvK = 64

  /**
   * x111 — KMV / THETA-SKETCH SET OPERATIONS (Beyer et al. 2007; the
   * Apache DataSketches theta family): bounded-memory distinct-count
   * sketches that — unlike HLL (x94) — support INTERSECTION, the
   * "users who clicked AND purchased" question a marketing dashboard
   * asks of 100 TB of events. Each scope's sketch is its k = 64
   * smallest distinct 60-bit hashes; estimates are exact integer
   * arithmetic: n < k reads off exactly, otherwise (k−1)·2^60 div h_k;
   * A∪B merges the two k-min SETS (never the raw data) and re-truncates;
   * A∩B counts common sketch hashes below θ = min(θ_A, θ_B) scaled by
   * 2^60 div θ — every estimate lands beside its exact count so the
   * sketch error is part of the contract (the sf0.001 fixture's handful
   * of qualifying users exercises the exact small-set branch, the
   * larger SFs the estimator).
   *
   * Scale shape: ONE distinct on (scope, hash) is the only corpus-sized
   * shuffle; the k-min selection is two-phase (per-salt top-k — the
   * per-executor sketch — then a global merge over ≤ 32·k rows), so no
   * single partition ever sees more than the salt's own candidates.
   * Everything after is k-sized: broadcast scalar frames, no collect.
   */
  def kmvThetaSetOps(spark: SparkSession, dir: String): DataFrame = {
    val k = KmvK
    val (typeA, typeB) = ("click", "purchase")
    // membership is HIGH-VALUE activity per channel — on this fixture a
    // bare event_type filter makes every scope the same 100%-active user
    // set; the >= 150 gate yields genuinely different sets (sf0.01:
    // |A| 75, |B| 67, |A∩B| 31), so intersection/union estimates are
    // exercised on real overlap structure
    val ev = Tables.load(spark, dir, "events")
      .where(col("event_type").isin(typeA, typeB) && col("value") >= 150)
    val hashed = ev.select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .distinct()
    val wSalt = Window.partitionBy(col("event_type"), col("salt"))
      .orderBy(col("h"))
    val wType = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val kmin = hashed
      .withColumn("salt", pmod(col("h"), lit(32)))
      .withColumn("rn1", row_number().over(wSalt))
      .where(col("rn1") <= k)
      .withColumn("rn", row_number().over(wType))
      .where(col("rn") <= k)
      .select(col("event_type"), col("h"))
    val wide = kmin.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("hk"))
      .agg(
        coalesce(max(when(col("event_type") === typeA, col("n_sk"))), lit(0L))
          .as("na"),
        max(when(col("event_type") === typeA, col("hk"))).as("hka"),
        coalesce(max(when(col("event_type") === typeB, col("n_sk"))), lit(0L))
          .as("nb"),
        max(when(col("event_type") === typeB, col("hk"))).as("hkb"))
    // union-of-sketches: merge the two k-min SETS and re-truncate — the
    // mergeability proof; the unpartitioned window reads <= 2k rows
    val uStats = kmin.select(col("h")).distinct()
      .withColumn("rn", row_number().over(Window.orderBy(col("h"))))
      .where(col("rn") <= k)
      .agg(count(lit(1)).as("nu"), max(col("h")).as("hku"))
    val common = kmin.where(col("event_type") === typeA).select(col("h"))
      .join(kmin.where(col("event_type") === typeB).select(col("h")), "h")
    val commonCnt = common.crossJoin(broadcast(wide))
      .where(col("h") <
          when(col("na") < k, lit(KmvDom)).otherwise(col("hka")) &&
        col("h") < when(col("nb") < k, lit(KmvDom)).otherwise(col("hkb")))
      .agg(count(lit(1)).as("ci_cnt"))
    val exact = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        max(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
      .agg(sum(col("a")).as("exact_a"), sum(col("b")).as("exact_b"),
        sum(col("a") * col("b")).as("exact_i"),
        count(lit(1)).as("exact_u"))
    val one = wide.crossJoin(uStats).crossJoin(commonCnt).crossJoin(exact)
      .withColumn("ta", when(col("na") < k, lit(KmvDom)).otherwise(col("hka")))
      .withColumn("tb", when(col("nb") < k, lit(KmvDom)).otherwise(col("hkb")))
      .withColumn("est_a", when(col("na") < k, col("na")).otherwise(
        expr(s"CAST((${k - 1} * CAST($KmvDom AS DECIMAL(38,0))) div hka" +
          " AS BIGINT)")))
      .withColumn("est_b", when(col("nb") < k, col("nb")).otherwise(
        expr(s"CAST((${k - 1} * CAST($KmvDom AS DECIMAL(38,0))) div hkb" +
          " AS BIGINT)")))
      .withColumn("est_u", when(col("nu") < k, col("nu")).otherwise(
        expr(s"CAST((${k - 1} * CAST($KmvDom AS DECIMAL(38,0))) div hku" +
          " AS BIGINT)")))
      .withColumn("est_i",
        when(least(col("ta"), col("tb")) === KmvDom, col("ci_cnt"))
          .otherwise(expr(s"CAST((CAST(ci_cnt AS DECIMAL(38,0)) * $KmvDom)" +
            " div least(ta, tb) AS BIGINT)")))
    one.select(expr(
        s"""stack(4,
           |  '$typeA', est_a, exact_a,
           |  '$typeB', est_b, exact_b,
           |  'intersection', est_i, exact_i,
           |  'union', est_u, exact_u) AS (scope, est_n, exact_n)"""
          .stripMargin))
      .orderBy(col("scope"))
  }

  def kmvThetaOracle: String =
    s"""WITH ev AS (
      |  SELECT DISTINCT event_type,
      |    list_reduce(list_transform(
      |      string_split(substr(md5(CAST(user_id AS VARCHAR)), 1, 15), ''),
      |      c -> instr('0123456789abcdef', c) - 1),
      |      (a, b) -> a * 16 + b) AS h
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase') AND "value" >= 150),
      |km AS (SELECT event_type, h FROM (
      |    SELECT event_type, h,
      |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |    FROM ev) WHERE rn <= $KmvK),
      |wide AS (SELECT
      |    COALESCE(max(CASE WHEN event_type = 'click' THEN n_sk END), 0)
      |      AS na,
      |    max(CASE WHEN event_type = 'click' THEN hk END) AS hka,
      |    COALESCE(max(CASE WHEN event_type = 'purchase' THEN n_sk END), 0)
      |      AS nb,
      |    max(CASE WHEN event_type = 'purchase' THEN hk END) AS hkb
      |  FROM (SELECT event_type, count(*) AS n_sk, max(h) AS hk
      |        FROM km GROUP BY 1)),
      |us AS (SELECT count(*) AS nu, max(h) AS hku FROM (
      |    SELECT h FROM (
      |      SELECT h, row_number() OVER (ORDER BY h) AS rn
      |      FROM (SELECT DISTINCT h FROM km)) WHERE rn <= $KmvK)),
      |cm AS (SELECT count(*) AS ci_cnt
      |  FROM (SELECT h FROM km WHERE event_type = 'click') a
      |  JOIN (SELECT h FROM km WHERE event_type = 'purchase') b USING (h),
      |  wide
      |  WHERE h < (CASE WHEN na < $KmvK THEN $KmvDom ELSE hka END)
      |    AND h < (CASE WHEN nb < $KmvK THEN $KmvDom ELSE hkb END)),
      |fl AS (SELECT user_id,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase') AND "value" >= 150
      |  GROUP BY 1),
      |ex AS (SELECT CAST(sum(a) AS BIGINT) AS exact_a,
      |    CAST(sum(b) AS BIGINT) AS exact_b,
      |    CAST(sum(a * b) AS BIGINT) AS exact_i,
      |    count(*) AS exact_u FROM fl),
      |one AS (SELECT *,
      |    CASE WHEN na < $KmvK THEN $KmvDom ELSE hka END AS ta,
      |    CASE WHEN nb < $KmvK THEN $KmvDom ELSE hkb END AS tb
      |  FROM wide, us, cm, ex),
      |fin AS (SELECT
      |    CASE WHEN na < $KmvK THEN CAST(na AS BIGINT)
      |         ELSE CAST((${KmvK - 1} * CAST($KmvDom AS HUGEINT)) // hka
      |              AS BIGINT) END AS est_a,
      |    CASE WHEN nb < $KmvK THEN CAST(nb AS BIGINT)
      |         ELSE CAST((${KmvK - 1} * CAST($KmvDom AS HUGEINT)) // hkb
      |              AS BIGINT) END AS est_b,
      |    CASE WHEN nu < $KmvK THEN CAST(nu AS BIGINT)
      |         ELSE CAST((${KmvK - 1} * CAST($KmvDom AS HUGEINT)) // hku
      |              AS BIGINT) END AS est_u,
      |    CASE WHEN least(ta, tb) = $KmvDom THEN CAST(ci_cnt AS BIGINT)
      |         ELSE CAST((CAST(ci_cnt AS HUGEINT) * $KmvDom)
      |              // least(ta, tb) AS BIGINT) END AS est_i,
      |    exact_a, exact_b, exact_i, exact_u
      |  FROM one)
      |SELECT 'click' AS scope, est_a AS est_n, exact_a AS exact_n FROM fin
      |UNION ALL SELECT 'purchase', est_b, exact_b FROM fin
      |UNION ALL SELECT 'intersection', est_i, exact_i FROM fin
      |UNION ALL SELECT 'union', est_u, exact_u FROM fin
      |ORDER BY scope""".stripMargin
}
