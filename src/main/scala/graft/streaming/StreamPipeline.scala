package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo,
  GroupState, GroupStateTimeout, ListState, MapState, OutputMode,
  StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues,
  Trigger, ValueState}
import org.apache.spark.sql.types.StructType

import graft.ingest.Tables
import graft.model.Envelope
import graft.transform.Transforms

/**
 * Structured Streaming surface — the reference's always-on Connect
 * pipeline (SURVEY.md §2.3 streaming rows) as streaming Catalyst plans.
 *
 *  - Ingest is STATELESS: the same [[Transforms.enrich]] chain runs
 *    unchanged on a streaming record frame (per-record SMTs have no state
 *    in the reference either — only a schema cache, which Spark resolves
 *    at plan time). At-least-once + `uid` idempotence matches the
 *    reference's replay story (README.md:11).
 *  - The discover histogram becomes a watermarked windowed aggregation —
 *    state is bounded by the watermark horizon, which is what lets it run
 *    forever on an unbounded topic.
 *  - The latest-state-per-key compaction view becomes mapGroupsWithState:
 *    one state row per (topic,key) — the streaming materialization of
 *    "ES should reflect state in kafka" (README.md:13).
 */
object StreamPipeline {

  /** Move the single parquet part a `coalesce(1)` slice write left under
    * `tmp` into place as `dst` with mtime `mtime` — the shared tail of
    * every four-slice replay. An EMPTY event-time slice (skewed
    * timestamps can leave a quarter with no rows) writes NO part file,
    * so the move is skipped instead of crashing on `.head`; the
    * remaining files still replay in mtime order, one fewer
    * micro-batch. */
  private def moveSlicePart(tmp: String, dst: java.io.File,
      mtime: Long): Unit =
    Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).headOption.foreach { part =>
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime)
      }

  /**
   * The scope of ONE finite replay: a bounded input run as a streaming
   * query to completion under `Trigger.AvailableNow`, with settings that
   * belong to that query alone (the Structured Streaming model: a
   * bounded replay is a query, and its configuration is the query's).
   * Every replay harness goes through [[Replay.apply]]; harness code
   * never writes session conf.
   *
   *  - `session` is `caller.newSession()` on the shared SparkContext. It
   *    carries every modifiable SQL conf of the caller (session time
   *    zone, ANSI mode, `nanosAsLong`, ...) plus the replay settings.
   *    8 shuffle partitions: a stateful query opens one
   *    state-store provider per shuffle partition per stateful operator
   *    (a join has two), and at fixture scale a larger default is
   *    seconds of pure provider/checkpoint set-up while the state itself
   *    is tiny; each replay checkpoints from scratch, so the count is
   *    free to differ between runs. RocksDB is set only for a query
   *    whose plan holds a transformWithState, which requires it; every
   *    other query keeps the caller's provider (the HDFS-backed default
   *    is the faster of the two on these replays). The caller's session
   *    is never written, so driver threads may replay concurrently.
   *  - `work` holds the input (`in`) and the checkpoint (`ckpt`) and is
   *    deleted when the replay ends. `out`, the sink directory, stays
   *    until JVM exit, because the frame returned by [[readBack]] reads
   *    it lazily.
   *  - Inputs are written in the caller's session. Only the streaming
   *    query and a memory sink's fixpoint run in `session`; sinks are
   *    read back in the caller's session, so the returned plan and its
   *    sort run under the caller's conf.
   */
  private[graft] final class Replay(caller: SparkSession) {
    val session: SparkSession = {
      val s = caller.newSession()
      for ((k, v) <- caller.conf.getAll if caller.conf.isModifiable(k))
        s.conf.set(k, v)
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s
    }
    val work: java.io.File =
      java.nio.file.Files.createTempDirectory("graft-replay").toFile
    val in: String = s"$work/in"
    val ckpt: String = s"$work/ckpt"
    lazy val out: String = {
      val d = java.nio.file.Files.createTempDirectory("graft-replay-out")
        .toFile
      FileUtils.forceDeleteOnExit(d)
      d.toString
    }

    /** `in` as a stream in the replay session; `perFile` feeds one file
      * per micro-batch. */
    def stream(schema: StructType, perFile: Boolean = false): DataFrame = {
      val r = session.readStream.schema(schema)
      (if (perFile) r.option("maxFilesPerTrigger", "1") else r).parquet(in)
    }

    /** Writes `df` as the input and returns it as a stream. */
    def input(df: DataFrame, perFile: Boolean = false): DataFrame = {
      df.write.mode("overwrite").parquet(in)
      stream(df.schema, perFile)
    }

    /** Writes the four time-ordered slices of `df` into
      * `in/batch-0i.parquet` (strictly increasing mtimes — the
      * file-source batch order) and returns them as a stream of four
      * micro-batches. ONE job: slice id = `(us − mn) div step` as a
      * partition column, hash-repartitioned so each slice lands in one
      * task → one part file per slice, after a min/max agg
      * column-pruned to the timestamp. Slice CONTENTS are deterministic
      * ranges; only intra-file row order may vary, which no replay
      * consumer observes (per-batch row sets feed order-insensitive
      * state updates, and emission order is governed by batch
      * boundaries and watermarks). */
    def slices(df: DataFrame, us: Column): DataFrame = {
      import df.sparkSession.implicits._
      val inDir = new java.io.File(in); inDir.mkdirs()
      val withUs = df.withColumn("_us", us.cast("long"))
      val (mn, mx) = withUs.agg(min(col("_us")), max(col("_us")))
        .as[(Long, Long)].head()
      val step = math.max((mx - mn) / 4 + 1, 1L)
      val tmp = s"$work/slices"
      withUs
        .withColumn("_slice", expr(s"CAST((_us - ${mn}L) div ${step}L AS INT)"))
        .drop("_us")
        .repartition(4, col("_slice"))
        .write.mode("overwrite").partitionBy("_slice").parquet(tmp)
      for (i <- 0 until 4)
        moveSlicePart(s"$tmp/_slice=$i",
          new java.io.File(inDir, f"batch-$i%02d.parquet"),
          1700000000000L + i * 60000L)
      stream(df.schema, perFile = true)
    }

    /** Runs `df` to completion through the writer `sink` builds, on the
      * replay checkpoint. Callable twice on one checkpoint: the second
      * run resumes from the first. */
    def run[T](df: Dataset[T])(
        sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
      val tws = df.queryExecution.analyzed
        .exists(_.isInstanceOf[TransformWithState])
      if (tws)
        session.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
      val q = sink(df.writeStream).trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      q
    }

    /** Runs `df` into a parquet sink at `out` (Append, the only mode a
      * file sink has) and reads it back. */
    def toParquet(df: DataFrame): DataFrame = {
      run(df)(_.format("parquet").option("path", out))
      readBack(df.schema)
    }

    /** Runs `df` into a memory sink; returns the sink as a table of the
      * replay session. [[Replay.apply]] drops the view at the end, so
      * the sink's rows live no longer than the frames built on them. */
    def toMemory(df: DataFrame, mode: OutputMode): DataFrame = {
      run(df)(_.format("memory").queryName("replay").outputMode(mode))
      session.table("replay")
    }

    /** Materializes a replay-session `fixpoint` at `out` — no driver
      * collect — and reads it back. */
    def keep(fixpoint: DataFrame): DataFrame = {
      fixpoint.write.mode("overwrite").parquet(out)
      readBack(fixpoint.schema)
    }

    /** `out` in the caller's session. The explicit schema also covers a
      * sink that received no rows: it holds no data files, where
      * schema inference would throw instead of yielding the empty
      * frame. */
    def readBack(schema: StructType): DataFrame =
      caller.read.schema(schema).parquet(out)
  }

  private[graft] object Replay {
    /** Runs `body` in a fresh [[Replay]], then drops its memory sink
      * view and deletes its work dir. */
    def apply[T](spark: SparkSession)(body: Replay => T): T = {
      val r = new Replay(spark)
      try body(r) finally {
        r.session.catalog.dropTempView("replay")
        FileUtils.deleteQuietly(r.work)
      }
    }
  }

  /** Q1b streaming: watermarked tumbling-window counts. */
  def discoverHistogram(env: DataFrame, bucket: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    env.withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), bucket))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("n"))

  /** Stream-static dimension join: enrich the flowing changelog with a
    * broadcast dimension table keyed by the record key. The static side is
    * re-broadcast per micro-batch — no streaming state at all, which is
    * why this is the standard way to attach user/account metadata to an
    * event stream at any scale. */
  def joinDim(env: DataFrame, dim: DataFrame, dimKey: String): DataFrame =
    env.join(
      org.apache.spark.sql.functions.broadcast(dim),
      env("key") === dim(dimKey).cast("string"),
      "left_outer")

  /**
   * Stream-stream join: correlate two record streams on key within a
   * time bound (e.g. click ↔ purchase attribution). Both sides carry
   * watermarks so the join state is bounded: a left row is held only
   * until the right watermark passes `within` — the standard windowed
   * stream-stream equi-join.
   */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      within: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val l = left.select(col("key").as("l_key"), col("offset").as("l_offset"),
      col("timestamp").as("l_ts")).withWatermark("l_ts", watermark)
    val r = right.select(col("key").as("r_key"), col("offset").as("r_offset"),
      col("timestamp").as("r_ts")).withWatermark("r_ts", watermark)
    l.join(r, expr(
      s"l_key = r_key AND r_ts BETWEEN l_ts AND l_ts + INTERVAL $within"))
  }

  /** Session-window activity aggregation: events for a key group into
    * sessions separated by `gap` of inactivity (`session_window` keeps
    * per-key open-session state bounded by the watermark). */
  def sessionActivity(env: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    env.withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), gap), col("key"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("key"), col("n_events"))

  /**
   * Streaming ingestion dedup — the training-data-pipeline guard against
   * replayed/duplicated documents at ingest time: drop records whose
   * content hash was already seen within the watermark horizon
   * (`dropDuplicatesWithinWatermark`, Spark 3.5+). State is one row per
   * DISTINCT content hash inside the horizon and is evicted as the
   * watermark advances — bounded forever on an unbounded stream, unlike a
   * plain `dropDuplicates` whose state grows without limit. Exactly the
   * streaming counterpart of [[graft.ext.Dedup.exactDedup]]: same md5
   * content key, so a doc admitted here lands in the same batch dedup
   * group downstream.
   */
  def dedupIngest(records: DataFrame, textCol: String = "text",
      watermark: String = "2 hours"): DataFrame =
    records
      .withColumn("content_hash", md5(col(textCol).cast("binary")))
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Slim record for the stateful compaction view. */
  case class RecLite(topic: String, key: String, offset: Long,
      timestamp: java.sql.Timestamp, value_json: String)

  private def keepLatest(
      key: (String, String), rows: Iterator[RecLite],
      state: GroupState[RecLite]): RecLite = {
    val best = (state.getOption.iterator ++ rows)
      .maxBy(r => (r.timestamp.getTime, r.offset))
    state.update(best)
    best
  }

  /**
   * Latest-state-per-(topic,key) as managed streaming state. Emits the
   * current winner for every key touched in a trigger (Update mode).
   * State size = O(live keys), independent of stream length.
   */
  def latestStatePerKey(env: DataFrame, valueJsonField: String): Dataset[RecLite] = {
    import env.sparkSession.implicits._
    env.select(col("topic"), col("key"), col("offset"), col("timestamp"),
        col(s"message.$valueJsonField").as("value_json"))
      .as[RecLite]
      .groupByKey(r => (r.topic, r.key))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(keepLatest)
  }

  /** Running per-(topic,key) changelog statistics. */
  case class KeyStats(topic: String, key: String, n: Long,
      last_offset: Long, last_value: String)

  /**
   * [[StatefulProcessor]] backing [[keyStatsPerKey]]: one `ValueState`
   * row per (topic,key) holding the record count and the
   * latest-by-offset value. State is typed, named, and owned by the
   * state store (RocksDB), so it checkpoints/restores like any other
   * streaming state and could add TTL or timers without restructuring —
   * the capabilities mapGroupsWithState can't layer on.
   */
  class KeyStatsProcessor
      extends StatefulProcessor[(String, String), RecLite, KeyStats] {
    @transient private var st: ValueState[KeyStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KeyStats]("keyStats",
        Encoders.product[KeyStats], TTLConfig.NONE)

    override def handleInputRows(key: (String, String),
        rows: Iterator[RecLite], timerValues: TimerValues)
        : Iterator[KeyStats] = {
      var cur = Option(st.get())
        .getOrElse(KeyStats(key._1, key._2, 0L, -1L, null))
      for (r <- rows) {
        val newer = r.offset > cur.last_offset
        cur = KeyStats(cur.topic, cur.key, cur.n + 1,
          if (newer) r.offset else cur.last_offset,
          if (newer) r.value_json else cur.last_value)
      }
      st.update(cur)
      Iterator.single(cur)
    }
  }

  /**
   * Per-key changelog statistics via `transformWithState` — Spark 4's
   * arbitrary-stateful-processing API (the successor to
   * mapGroupsWithState): emits, per trigger, each touched key's total
   * record count and latest-by-offset value. Requires the RocksDB state
   * store provider. State size = O(live keys); count/offset merges are
   * associative, so replays under at-least-once delivery converge to the
   * same per-key maximum (the count is exact under exactly-once
   * checkpointing, which transformWithState provides).
   */
  def keyStatsPerKey(env: DataFrame, valueJsonField: String): Dataset[KeyStats] = {
    import env.sparkSession.implicits._
    env.select(col("topic"), col("key"), col("offset"), col("timestamp"),
        col(s"message.$valueJsonField").as("value_json"))
      .as[RecLite]
      .groupByKey(r => (r.topic, r.key))
      .transformWithState(new KeyStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /**
   * Driver-visible batch wrapper around [[keyStatsPerKey]] (kq23): the
   * fixture envelope is materialized once, replayed AS A STREAM (file
   * source under `Trigger.AvailableNow`, RocksDB state store) through the
   * [[KeyStatsProcessor]] into a memory sink, and the FINAL state per
   * (topic, key) — the Update-mode emission with the max running count —
   * is returned as an ordinary batch frame. Because the processor's
   * per-key state is (count, argmax-by-offset value), the fixpoint is
   * SQL-expressible: `count(*) / max(offset) / arg_max(value_json,
   * offset)` per key, which is exactly the DuckDB oracle — Spark 4's
   * flagship stateful API gets a CORRECTNESS row, not just spec evidence.
   */
  def keyStatsBatch(spark: SparkSession, env: DataFrame,
      valueJsonField: String): DataFrame = Replay(spark) { r =>
    val emitted = r.toMemory(
      keyStatsPerKey(r.input(env), valueJsonField).toDF(),
      OutputMode.Update())
    // the final state per key is the emission with the max n (n
    // strictly increases every time a key appears in a micro-batch) — a
    // max_by aggregate, not a window: partial-aggregable, map-side
    // combined, no per-partition sort (guide §2.3). Materialized EAGERLY
    // at `out`, without a driver-side collect: the fixpoint stays a
    // distributed frame end to end, so a high-cardinality key space
    // never funnels through the driver heap. The read-back re-sorts
    // because parquet file order is not a contract.
    val fixpoint = emitted
      .groupBy(col("topic"), col("key"))
      .agg(max_by(struct(col("n"), col("last_offset"),
        col("last_value")), col("n")).as("top"))
      .select(col("topic"), col("key"), col("top.n").as("n"),
        col("top.last_offset").as("last_offset"),
        col("top.last_value").as("last_value"))
    r.keep(fixpoint).orderBy(col("topic"), col("key"))
  }

  /** Input row for the kq83 map-state counter. */
  case class KeyType(key: String, event_type: String)
  /** Per-(key, event_type) running count — kq83's emission. */
  case class TypeCount(key: String, event_type: String, n: Long)

  /**
   * [[StatefulProcessor]] backing [[mapStateCountsBatch]] (kq83): per
   * changelog key one `MapState[event_type → count]` — the
   * transformWithState primitive kq23 (ValueState), kq49 (event-time
   * timers) and kq56 (ListState) don't touch. MapState matters at
   * scale because sub-keys are point-read/point-written against the
   * RocksDB store: a user with 10^4 event types updates ONE entry per
   * arrival, where a ValueState[Map] would deserialize and rewrite the
   * whole map every time. Emits the updated (key, type, count) rows of
   * each trigger (Update mode); counts only grow, so the stream's
   * fixpoint per (key, type) is the max emission — which is exactly
   * the batch `count(*)` group-by, the oracle.
   */
  class TypeCountProcessor
      extends StatefulProcessor[String, KeyType, TypeCount] {
    @transient private var st: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("perType",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KeyType],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.Map.empty[String, Long]
      for (r <- rows) {
        val base = touched.getOrElse(r.event_type,
          if (st.containsKey(r.event_type)) st.getValue(r.event_type)
          else 0L)
        touched(r.event_type) = base + 1L
      }
      for ((et, n) <- touched) st.updateValue(et, n)
      touched.iterator.map { case (et, n) => TypeCount(key, et, n) }
    }
  }

  /**
   * kq83 — MAP STATE per-key counters via `transformWithState`: the
   * envelope replayed as a stream (file source, `Trigger.AvailableNow`,
   * RocksDB provider) through [[TypeCountProcessor]]; the final
   * per-(key, event_type) counts are returned as a batch frame and
   * hash-checked against the plain group-by — same contract pattern as
   * kq23, exercising the remaining state primitive. Tombstoned rows
   * (null event_type) are filtered before keying, so the state domain
   * is (live keys × observed types).
   */
  def mapStateCountsBatch(spark: SparkSession,
      env: DataFrame): DataFrame = Replay(spark) { r =>
    import spark.implicits._
    val emitted = r.toMemory(
      r.input(env.where(col("event_type").isNotNull)
          .select(col("key"), col("event_type")))
        .as[KeyType]
        .groupByKey(_.key)
        .transformWithState(new TypeCountProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF(),
      OutputMode.Update())
    // plain max aggregate, not a window: per-(key, type) counts only
    // grow, and n is the only carried column (see kq23's fixpoint)
    r.keep(emitted.groupBy(col("key"), col("event_type"))
        .agg(max(col("n")).as("n")))
      .orderBy(col("key"), col("event_type"))
  }

  /**
   * kq74 — STATE STORE AUDIT via Spark 4's `statestore` batch data
   * source: the streaming job's CHECKPOINT becomes a queryable table.
   * A per-key streaming aggregation (count + exact cents sum) runs to
   * completion (`Trigger.AvailableNow`, Update mode, noop sink — the
   * emissions are deliberately thrown away), and the result is read
   * back FROM THE STATE FILES themselves:
   * `spark.read.format("statestore").load(<ckpt>)`. What the oracle
   * then hash-checks is the operator's internal state against the
   * batch-SQL aggregate — the ops question ("is the state store
   * healthy / what does the job believe right now?") answered without
   * touching the running query, and the strongest possible proof that
   * the streaming aggregation state is EXACTLY the batch answer.
   *
   * Scale: the state source reads one partition per state-store shard
   * (parallel, no driver funnel); the audit is a scan-and-sort of
   * |keys| rows, independent of the event volume that built the state.
   */
  def stateAuditBatch(spark: SparkSession,
      envFlat: DataFrame): DataFrame = Replay(spark) { r =>
    val cents = (col("value").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("long")
    r.run(r.input(envFlat)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNotNull, cents).otherwise(0L)).as("cents")))(
      _.format("noop").outputMode(OutputMode.Update()))
    // the state value struct carries the AGG BUFFER fields, named by
    // function ("count", "sum"), not by the output aliases
    r.keep(r.session.read.format("statestore").load(r.ckpt)
        .select(col("key.key").as("key"),
          col("value.count").as("n"), col("value.sum").as("cents")))
      .orderBy(col("key"))
  }

  /**
   * Driver-visible streaming threshold alert (kq42): the ES
   * Watcher/Kibana alerting rule "count per bucket exceeds the norm"
   * evaluated over a FLOWING changelog. The envelope replays as a stream
   * through a WINDOWED AGGREGATION — 6-hour tumbling event-time windows
   * per event type, Complete mode into a bounded memory sink (window
   * count × type count rows), `Trigger.AvailableNow` — proof that
   * windowed streaming aggregation survives the streaming planner with
   * batch-identical bucket edges (kq23 proved arbitrary state, kq32
   * proved predicates; this proves the window operator). The final
   * counts persist to temp parquet (no driver collect) and the alert
   * rule — n exceeds 1.2× the mean window count — evaluates DOWNSTREAM
   * of the stream as EXACT integer cross-multiplication (5·n·windows >
   * 6·Σn), so the oracle replays it with no floating-point threshold.
   */
  def windowAlertBatch(spark: SparkSession,
      envFlat: DataFrame): DataFrame = Replay(spark) { r =>
    val counts = r.keep(r.toMemory(
      r.input(envFlat).where(col("event_type").isNotNull)
        .groupBy(window(col("timestamp"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("bucket"), col("event_type"),
          col("n")),
      OutputMode.Complete()))
    val stats = counts.agg(count(lit(1)).as("n_windows"),
      sum(col("n")).as("sum_n")) // 1-row scalar
    counts.crossJoin(broadcast(stats))
      .where(col("n") * 5 * col("n_windows") > col("sum_n") * 6)
      .select(col("bucket"), col("event_type"), col("n"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /**
   * kq44 — the PRODUCTION shape of kq42's streaming alert: the same 6 h
   * tumbling window aggregation but with `withWatermark` + **Append**
   * mode into a parquet sink, which is the form that runs forever on an
   * unbounded topic — state holds only windows the watermark hasn't
   * passed (horizon / window-width rows per type), each window is
   * emitted EXACTLY ONCE when it closes, and nothing re-emits or
   * accumulates on the driver (kq42's Complete-mode memory sink re-emits
   * the full bucket set per trigger and parks it driver-side — fine for
   * a bounded replay proof, wrong for production; this entry is the
   * honest sibling the kq42 scaladoc promises).
   *
   * Determinism contract for the oracle: Append emits a window once the
   * event-time watermark (max event time seen minus `delay`, tracked in
   * MILLISECONDS) is at or past the window end, so on a finite
   * AvailableNow replay the emitted set is exactly the windows with
   * `window_end_ms <= floor(max_ts_ms) - delay_ms` — a pure batch
   * predicate DuckDB replays (the final no-data micro-batch,
   * `spark.sql.streaming.noDataMicroBatches.enabled` default true,
   * flushes every window the final watermark closed). The LAST window(s)
   * stay open by construction and are NOT in the result — that omission
   * is the bounded-state semantics, not data loss.
   */
  def windowAlertWatermarked(spark: SparkSession, envFlat: DataFrame,
      delay: String = "1 hour"): DataFrame = Replay(spark) { r =>
    r.toParquet(r.input(envFlat).where(col("event_type").isNotNull)
        .withWatermark("timestamp", delay)
        .groupBy(window(col("timestamp"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("bucket"), col("event_type"),
          col("n")))
      .orderBy(col("bucket"), col("event_type"))
  }

  /**
   * kq45 — the PRODUCTION shape of kq43's streaming dedup:
   * `dropDuplicatesWithinWatermark` on the same (event type,
   * NULL-coalesced payload) key. Unlike kq43's exact `dropDuplicates`
   * (state = every key ever seen, unbounded on an endless topic), state
   * here is EVICTED once the watermark passes a key's event time plus
   * the delay — bounded forever, the [[dedupIngest]] operator promoted
   * to a driver-checked entry. Within one micro-batch every key is in
   * state, and the AvailableNow file replay here processes the input as
   * one batch, so the surviving set equals exact dedup and the kq43
   * oracle replays unchanged; on a multi-batch unbounded stream the
   * guarantee weakens (by design) to "no duplicates within the
   * watermark delay of each other".
   */
  def streamDedupWatermarked(spark: SparkSession, envFlat: DataFrame,
      delay: String = "48 hours"): DataFrame = Replay(spark) { r =>
    r.toParquet(r.input(envFlat)
        .withColumn("dedup_type",
          coalesce(col("event_type"), lit("TOMBSTONE")))
        .withColumn("dedup_payload",
          coalesce(col("value_json"), lit("__null_payload__")))
        .withWatermark("timestamp", delay)
        .dropDuplicatesWithinWatermark("dedup_type", "dedup_payload"))
      .groupBy(col("dedup_type").as("event_type"))
      .agg(count(lit(1)).as("n_distinct"))
      .orderBy(col("event_type"))
  }

  /**
   * kq61 — CHAINED STATEFUL OPERATORS: watermarked dedup feeding a
   * watermarked tumbling-window aggregation in ONE streaming query (the
   * multi-stateful-operator support that makes "dedup the topic, then
   * window it" a single job instead of two with an intermediate topic).
   * The input is the non-null envelope with every third record REPLAYED
   * as an exact copy — the Kafka redelivery story, where a replay
   * carries identical content AND event time — so the dedup state must
   * collapse the copies or every third window count inflates.
   *
   * The dedup key is (type, payload, event-time string): keying by the
   * formatted timestamp rather than the raw event-time column keeps the
   * surviving row's WINDOW deterministic even if one payload genuinely
   * recurs at two different times (each occurrence then survives, in
   * its own window — redelivery collapses, recurrence does not).
   *
   * Emission semantics compose: dedup emits rows downstream within the
   * micro-batch; the window operator gates on the one GLOBAL watermark
   * (floor-to-ms(max event time) - delay) with kq44's pinned `<=` rule,
   * so the oracle is kq44's tail rule over the DISTINCT triples. State
   * in BOTH operators is watermark-bounded — the chain runs forever.
   */
  def streamDedupThenWindow(spark: SparkSession, envFlat: DataFrame,
      delay: String = "1 hour"): DataFrame = Replay(spark) { r =>
    val base = envFlat.where(col("event_type").isNotNull)
    r.toParquet(r.input(base.unionByName(base.where(col("offset") % 3 === 0)))
        .withColumn("dedup_payload",
          coalesce(col("value_json"), lit("__null_payload__")))
        .withColumn("dedup_ts",
          date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withWatermark("timestamp", delay)
        .dropDuplicatesWithinWatermark("event_type", "dedup_payload",
          "dedup_ts")
        .groupBy(window(col("timestamp"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("bucket"), col("event_type"),
          col("n")))
      .orderBy(col("bucket"), col("event_type"))
  }

  /**
   * Driver-visible streaming dedup (kq43): exact-duplicate suppression on
   * the FLOWING changelog — `dropDuplicates` on the payload content
   * inside the streaming planner (state keyed by (event type,
   * NULL-coalesced payload), AvailableNow replay into a parquet sink).
   * WHICH physical row
   * survives per content depends on arrival order, so the returned frame
   * aggregates only CONTENT-DETERMINED columns: distinct payloads per
   * event type — deterministic regardless of stream ordering, and
   * exactly `count(DISTINCT value_json)` in the batch oracle. kq23/kq32/
   * kq42 proved state, predicates and windows; this proves the
   * dedup-state operator. Unbounded streams bound this state with
   * `withWatermark` + `dropDuplicatesWithinWatermark`; the replay is
   * finite so the exact variant is the honest equivalent here.
   */
  def streamDedupBatch(spark: SparkSession,
      envFlat: DataFrame): DataFrame = Replay(spark) { r =>
    // dedup state keyed by (event type, payload), with NULL payloads
    // mapped to an explicit sentinel: streaming dropDuplicates treats
    // NULLs as equal while the oracle's count(DISTINCT) skips them, so
    // a raw value_json key would diverge on any fixture with NULL
    // payloads; scoping the key by type additionally keeps the grouped
    // counts deterministic if one payload ever appeared under two types.
    r.toParquet(r.input(envFlat)
        .withColumn("dedup_type",
          coalesce(col("event_type"), lit("TOMBSTONE")))
        .withColumn("dedup_payload",
          coalesce(col("value_json"), lit("__null_payload__")))
        .dropDuplicates("dedup_type", "dedup_payload"))
      .groupBy(col("dedup_type").as("event_type"))
      .agg(count(lit(1)).as("n_distinct"))
      .orderBy(col("event_type"))
  }

  /**
   * Driver-visible live-tail search (kq32): the Kibana search box over a
   * FLOWING changelog. The flat envelope is replayed as a stream
   * (file source, `Trigger.AvailableNow`) with a parsed [[graft.query.Kql]]
   * predicate — wildcards, analyzed free text, match_phrase, ranges — as
   * the streaming `where`; matches append to a parquet sink and the
   * final frame is read back and re-sorted (parquet file order is not a
   * contract). The predicate is STATELESS, so this is the unbounded-
   * stream shape as-is: scan-stage filtering inside the streaming
   * planner (the micro-batch plans the same pushdown/codegen predicate
   * the batch path gets), zero streaming state, append-mode safe at any
   * scale. kq23's pattern applied to the search surface: proof that
   * parsed KQL predicates — including the native analyzed-phrase
   * expressions — survive the streaming planner with identical
   * semantics, not just the batch one.
   */
  def kqlSearchBatch(spark: SparkSession, envFlat: DataFrame,
      query: String, textField: String = "value_json"): DataFrame =
    Replay(spark) { r =>
      r.toParquet(r.input(envFlat)
          .where(graft.query.Kql.parse(query, textField)))
        .orderBy(col("offset"))
    }

  /**
   * kq46 — STREAM-STREAM INTERVAL JOIN, watermarked on BOTH sides: the
   * live form of q26's funnel correlation — every (signup, purchase)
   * pair of the same user with the purchase inside 24 h of the signup,
   * joined as two unbounded streams. The event-time range condition +
   * the two watermarks are what make this run forever: Spark derives a
   * state TTL for each side from them (a signup can be dropped once the
   * purchase-side watermark passes its ts + 24 h; a purchase once the
   * signup-side watermark passes its ts), so state is bounded by
   * rate × (horizon + delay) instead of the full history. The join
   * shuffles both streams on user_id once — same co-partitioning story
   * as the batch funnel at 100 TB.
   *
   * Determinism for the oracle: inner stream-stream join results emit as
   * soon as both rows have arrived (the watermark bounds STATE, not
   * emission), so a finite AvailableNow replay — both sides fully
   * present — emits exactly the batch interval join; DuckDB replays it
   * as a plain time-bounded self-join.
   */
  def streamIntervalJoin(spark: SparkSession, events: DataFrame,
      delay: String = "1 hour"): DataFrame =
    streamIntervalJoinImpl(spark, events, delay, "inner")

  private def streamIntervalJoinImpl(spark: SparkSession,
      events: DataFrame, delay: String, joinType: String): DataFrame =
    Replay(spark) { r =>
      val ev = events.select(col("user_id"), col("event_id"),
        col("event_type"), col("ts"))
      def side(s: DataFrame, t: String, u: String, id: String, ts: String) =
        s.where(col("event_type") === t)
          .select(col("user_id").as(u), col("event_id").as(id),
            col("ts").as(ts))
          .withWatermark(ts, delay)
      r.toParquet(side(r.input(ev), "signup", "u", "s_id", "s_ts")
          .join(side(r.stream(ev.schema), "purchase", "u2", "p_id", "p_ts"),
            expr("u = u2 AND p_ts >= s_ts AND " +
              "p_ts <= s_ts + interval 24 hours"),
            joinType)
          .select(col("u").as("user_id"), col("s_id"), col("p_id"),
            (unix_micros(col("p_ts")) - unix_micros(col("s_ts")))
              .as("gap_us")))
        .orderBy(col("user_id"), col("s_id"), col("p_id"))
    }

  /**
   * kq47 — LEFT-OUTER stream-stream interval join: kq46 with the
   * unmatched signups KEPT — the semantically deep case, because an
   * unbounded join cannot know "no purchase will ever come" except
   * through the watermark: a signup's null-extended row is emitted only
   * when the purchase-side watermark passes s_ts + horizon (match now
   * impossible), i.e. OUTER results are emitted BY state eviction, not
   * by arrival. Consequence on a finite replay: signups too close to
   * the end of the data (watermark never passes their horizon) are
   * ABSENT from the outer result — that is the bounded-state semantics,
   * exactly like kq44's open tail windows, not data loss.
   *
   * Oracle determinism: final watermark = floor-to-ms(min over the two
   * streams' max event time) − delay (each side's watermark is its own
   * max − delay; the JOIN operator advances on the MIN). Matched pairs
   * emit unconditionally (inner semantics); a null-extended row emits
   * iff it has no match AND wm_ms > s_ts_ms + horizon_ms. DuckDB
   * replays both legs as pure batch predicates.
   */
  def streamIntervalJoinOuter(spark: SparkSession, events: DataFrame,
      delay: String = "1 hour"): DataFrame =
    streamIntervalJoinImpl(spark, events, delay, "leftOuter")

  /**
   * kq50 — STREAM-STATIC enrichment join, the third Structured Streaming
   * join pillar (stream-stream inner kq46 / outer kq47 are the other
   * two): the flowing event stream left-joined to a STATIC dimension
   * (customers with a positive balance) on the user key. Stream-static
   * joins are STATELESS — no watermark, no state store; the batch side
   * is re-resolved every micro-batch, which is exactly the
   * slowly-changing-dimension story (a dim table updated between batches
   * is picked up on the next trigger without restarting the query). The
   * dim is broadcast, so at 100 TB/day stream volume the enrichment
   * never shuffles the stream side; events whose user fails the dim
   * predicate flow through null-extended (the LEFT join is load-bearing:
   * enrichment must not DROP facts when the dim has gaps).
   *
   * A finite AvailableNow replay of a stateless map-side join emits
   * exactly the batch join, so the DuckDB oracle is the plain left join
   * — no watermark emission rule applies (nothing is held in state).
   */
  def streamStaticEnrich(spark: SparkSession, events: DataFrame,
      customers: DataFrame): DataFrame = Replay(spark) { r =>
    val dim = customers.where(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_mktsegment").as("mktsegment"),
        col("c_nationkey").as("nationkey"))
    r.toParquet(r.input(events.select(col("event_id"), col("user_id"),
          col("event_type"), col("value")))
        .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("mktsegment"), col("nationkey")))
      .orderBy(col("event_id"))
  }

  /**
   * kq53 — EXACTLY-ONCE `foreachBatch` SINK: the production answer to
   * "Structured Streaming delivers micro-batches AT LEAST once to a
   * non-transactional sink" — the sink write is made IDEMPOTENT by
   * keying on the (replayed-deterministic) `batchId`, so a batch retried
   * after a mid-write crash overwrites its own partial output instead of
   * appending duplicates. This is the documented Spark recipe for
   * exactly-once semantics over arbitrary batch sinks (foreachBatch +
   * idempotent write), and the piece the kq7 changelog's uid-upsert
   * idempotence doesn't cover: AGGREGATED output, where a replayed
   * micro-batch would otherwise double-count.
   *
   * Mechanics: the event stream is consumed file-per-trigger (several
   * micro-batches), each batch reduces to a per-type (count, cent-sum)
   * aggregate, and the commit writes `batch_id=<id>` partitions with
   * DYNAMIC partition overwrite — rewriting exactly its own partition,
   * byte-identical on replay. The at-least-once failure is SIMULATED by
   * running one batch's full compute+commit TWICE (what a retried task
   * does); the final table must be unchanged by the replay. The driver
   * entry returns the cross-batch rollup, which therefore equals the
   * plain batch aggregate — that equality IS the exactly-once proof the
   * oracle checks. All integer/cents arithmetic (kq36's recipe).
   *
   * At 100 TB/day the same shape holds: the per-batch aggregate is tiny,
   * the partition overwrite touches one directory per trigger, and
   * recovery after any crash is replay-the-batch, not reconcile-the-sink.
   */
  def exactlyOnceSink(spark: SparkSession,
      events: DataFrame): DataFrame = Replay(spark) { r =>
    val table = s"${r.work}/table"
    def commit(batch: DataFrame, batchId: Long): Unit =
      batch.where(col("event_type").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)")).as("sum_cents"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(table)
    // 4 input files → 4 micro-batches at one file per trigger
    r.run(r.input(events.select(col("event_id"), col("event_type"),
          col("value")).repartition(4), perFile = true))(
      _.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        commit(batch, batchId)
        // simulated at-least-once retry: batch 1's compute + commit
        // runs twice, as a recovered task would — must be a no-op
        if (batchId == 1L) commit(batch, batchId)
      })
    // cross-batch rollup: equals the one-shot batch aggregate IFF the
    // replayed commit was idempotent (the exactly-once contract)
    Tables.parquet(spark, table)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sum_cents")).cast("decimal(38,0)").as("cents"))
      .select(col("event_type"), col("n_events"),
        (col("cents").cast("double") / 100).as("sum_v"))
      .orderBy(col("event_type"))
      .localCheckpoint() // materialize before the work dir is deleted
  }

  /** Per-user running activity plus the registered inactivity-timer
    * expiry (ms) — the [[InactivityProcessor]]'s ValueState row. */
  case class UserActivity(n_events: Long, last_seen_us: Long,
      timer_ms: Long)
  /** Input row for the inactivity watch. */
  case class UserEvt(user_id: Long, ts: java.sql.Timestamp, us: Long)
  /** Timer-emitted output: the user went quiet. */
  case class InactiveUser(user_id: Long, n_events: Long,
      last_seen_us: Long)

  /**
   * [[StatefulProcessor]] behind [[inactivityWatch]] (kq49): rows only
   * UPDATE state (count + max event time) and re-arm an EVENT-TIME
   * timer at `last_seen + horizon`; the output row is emitted solely by
   * [[handleExpiredTimer]] when the watermark passes the timer — state
   * is cleared on emission, so a user's silence is reported exactly
   * once and the store holds only currently-active users. This is the
   * transformWithState feature surface kq23's processor doesn't touch:
   * TimeMode.EventTime, registerTimer/deleteTimer re-arming, and
   * timer-driven (not row-driven) Append output.
   */
  class InactivityProcessor(horizonMs: Long)
      extends StatefulProcessor[Long, UserEvt, InactiveUser] {
    @transient private var st: ValueState[UserActivity] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserActivity]("activity",
        Encoders.product[UserActivity], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvt],
        timerValues: TimerValues): Iterator[InactiveUser] = {
      var cur = Option(st.get())
        .getOrElse(UserActivity(0L, Long.MinValue, -1L))
      for (r <- rows)
        cur = UserActivity(cur.n_events + 1,
          math.max(cur.last_seen_us, r.us), cur.timer_ms)
      // re-arm: one live timer per user at last_seen(ms, floored) + horizon
      val expiry = math.floorDiv(cur.last_seen_us, 1000L) + horizonMs
      if (cur.timer_ms != expiry) {
        if (cur.timer_ms >= 0) getHandle.deleteTimer(cur.timer_ms)
        getHandle.registerTimer(expiry)
        cur = cur.copy(timer_ms = expiry)
      }
      st.update(cur)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[InactiveUser] = {
      val cur = st.get()
      st.clear()
      if (cur == null) Iterator.empty
      else Iterator.single(InactiveUser(key, cur.n_events,
        cur.last_seen_us))
    }
  }

  case class CepAlert(user_id: Long, at_us: Long, n_window: Long)

  /**
   * [[StatefulProcessor]] behind [[patternAlerts]] (kq56): per-user
   * LIST STATE of recent target-event timestamps. On each arriving
   * event e, alert iff the user produced ≥ `minCount` target events in
   * `[e − window, e]` — counted over stored state ∪ this batch, ties
   * included regardless of intra-batch order, so the rule is exactly
   * the batch RANGE-frame window count (q29's frame) and never depends
   * on iterator order. State is pruned below `watermark − window`:
   * every future event's window starts at or after that line (late rows
   * beyond the watermark are dropped by the framework), so eviction is
   * lossless — per-user state is bounded by rate × (delay + window),
   * never full history.
   */
  class PatternAlertProcessor(windowUs: Long, minCount: Int)
      extends StatefulProcessor[Long, UserEvt, CepAlert] {
    @transient private var st: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[Long]("hits", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvt],
        timerValues: TimerValues): Iterator[CepAlert] = {
      val incoming = rows.map(_.us).toArray
      val stored = st.get().toArray
      val all = stored ++ incoming
      val alerts = incoming.sorted.flatMap { e =>
        val n = all.count(u => u >= e - windowUs && u <= e)
        if (n >= minCount) Some(CepAlert(key, e, n.toLong)) else None
      }
      val floorUs = timerValues.getCurrentWatermarkInMs() * 1000L - windowUs
      val keep = all.filter(_ >= floorUs)
      st.clear()
      if (keep.nonEmpty) {
        st.put(keep)
        // CHURN EVICTION (round 12, caught by the state plateau probe):
        // input-driven pruning alone leaks state for users who simply
        // stop producing — their list is never visited again. Arm a
        // purge timer just past the last entry's eviction line; the
        // +1 ms covers the µs->ms floor. Re-arming registers a fresh
        // (key, expiry) timer per batch rather than tracking/deleting
        // the old one — at most one live timer per batch that touched
        // the key, each a no-op once the list is already clear.
        getHandle.registerTimer(
          math.floorDiv(keep.max, 1000L) + windowUs / 1000L + 1L)
      }
      alerts.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[CepAlert] = {
      val floorUs = timerValues.getCurrentWatermarkInMs() * 1000L - windowUs
      val keep = st.get().toArray.filter(_ >= floorUs)
      st.clear()
      if (keep.nonEmpty) st.put(keep) // late re-arm already exists
      Iterator.empty
    }
  }

  /**
   * kq56 — STREAMING PATTERN ALERT (CEP): "≥ 3 clicks by the same user
   * within 24 hours" over an unbounded stream — the security/abuse
   * alerting shape (N failed logins, N checkout retries) that needs
   * CUSTOM list state: a windowed aggregate can't anchor the window at
   * each EVENT, and a self-join doubles the stream. Implemented with
   * transformWithState ListState (the state primitive kq23's value
   * state and kq49's timers don't touch); see [[PatternAlertProcessor]]
   * for the exact arrival rule and the lossless watermark eviction.
   *
   * The harness replays the fixture as FOUR time-ordered files under
   * `maxFilesPerTrigger=1`, so state genuinely persists across four
   * micro-batches and the eviction line genuinely advances; because
   * arrival order is event-time order (and ties count order-free), the
   * emission equals the batch RANGE-window count ≥ 3 row-for-row — the
   * DuckDB oracle, with no watermark tail rule (alerts fire on arrival).
   */
  def patternAlerts(spark: SparkSession, events: DataFrame,
      target: String = "click", windowUs: Long = 86400L * 1000000L,
      minCount: Int = 3, delay: String = "1 hour"): DataFrame =
    Replay(spark) { r =>
      import spark.implicits._
      val ev = events.where(col("event_type") === target)
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      r.toParquet(r.slices(ev, col("us"))
          .withWatermark("ts", delay)
          .as[UserEvt]
          .groupByKey(_.user_id)
          .transformWithState(new PatternAlertProcessor(windowUs, minCount),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF())
        .orderBy(col("user_id"), col("at_us"))
    }

  /** Geofence input row: per-event derived point reduced to the
    * inside-fence flag. */
  case class GeoEvt(user_id: Long, ts: java.sql.Timestamp, us: Long,
      event_id: Long, inside: Boolean)
  /** The last observed (event-time, id, side) per user — the
    * [[GeofenceProcessor]]'s whole state. */
  case class LastPos(us: Long, event_id: Long, inside: Boolean)
  /** Emitted on a side TRANSITION only: ENTER or EXIT. */
  case class FenceAlert(user_id: Long, at_us: Long, event_id: Long,
      kind: String)

  /**
   * [[StatefulProcessor]] behind [[geofenceAlerts]] (kq109): one
   * ValueState[LastPos] per user. Each batch's rows are folded in
   * (us, event_id) order from the carried last position (first sighting
   * compares against OUTSIDE — the fleet-tracking convention that a
   * first fix inside the fence is an ENTER); a row emits iff its side
   * differs from the previous one. Cross-batch order is the fixture
   * replay's strict event-time slicing (the kq56/kq106 discipline), so
   * the fold composes to exactly the batch lag() transition rule.
   * State is ONE 3-field row per user — the operator's product (the
   * fleet's current side), not a window buffer; at 100 TB it is bounded
   * by the key domain, the kq23 running-stats posture.
   */
  class GeofenceProcessor
      extends StatefulProcessor[Long, GeoEvt, FenceAlert] {
    @transient private var st: ValueState[LastPos] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[LastPos]("last",
        Encoders.product[LastPos], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[GeoEvt],
        timerValues: TimerValues): Iterator[FenceAlert] = {
      var last = Option(st.get()).getOrElse(
        LastPos(Long.MinValue, Long.MinValue, inside = false))
      val out = scala.collection.mutable.ArrayBuffer.empty[FenceAlert]
      for (r <- rows.toArray.sortBy(e => (e.us, e.event_id))) {
        if (r.inside != last.inside)
          out += FenceAlert(key, r.us, r.event_id,
            if (r.inside) "ENTER" else "EXIT")
        last = LastPos(r.us, r.event_id, r.inside)
      }
      st.update(last)
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FenceAlert] =
      Iterator.empty
  }

  /**
   * kq109 — STREAMING GEOFENCE (Kibana Maps alerting / ES geo query +
   * Watcher): ENTER/EXIT alerts when a user's movement track (kq99's
   * per-event derived points) crosses the kq60 viewport fence. A
   * stateless bbox filter can say "is inside"; the ALERT is the
   * TRANSITION, which needs the previous fix — per-user ValueState (see
   * [[GeofenceProcessor]]). The fence test itself is two integer range
   * predicates evaluated map-side in the scan before any state.
   *
   * Same four-slice AvailableNow replay as kq56, so state genuinely
   * crosses micro-batches; because slices are strict event-time order,
   * the emission equals the batch `lag(inside) <> inside` rule
   * row-for-row — the DuckDB oracle, no watermark tail rule (alerts
   * fire on arrival).
   */
  def geofenceAlerts(spark: org.apache.spark.sql.SparkSession,
      dir: String, delay: String = "1 hour"): DataFrame =
    fenceAlertsImpl(spark, graft.query.Geo.eventFenceFrame(spark, dir),
      delay)

  /**
   * kq111 — STREAMING POLYGON GEOFENCE (ES `geo_shape` + Watcher): the
   * kq109 ENTER/EXIT machine with the fence swapped from the kq60
   * bounding box to the frozen CONCAVE polygon
   * ([[graft.query.Geo.Polygon]], even-odd ray casting in exact BIGINT
   * cross-products). Everything else — the per-user ValueState
   * transition rule, the four-slice replay, the batch lag() oracle —
   * is shared with kq109 via [[fenceAlertsImpl]]: the fence predicate
   * is still a map-side integer expression evaluated in the scan
   * before any state, so the 100 TB posture is unchanged.
   */
  def polygonFenceAlerts(spark: org.apache.spark.sql.SparkSession,
      dir: String, delay: String = "1 hour"): DataFrame =
    fenceAlertsImpl(spark, graft.query.Geo.eventPolygonFrame(spark, dir),
      delay)

  private def fenceAlertsImpl(spark: SparkSession, fenceFrame: DataFrame,
      delay: String): DataFrame = Replay(spark) { r =>
    import spark.implicits._
    val ev = fenceFrame
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("inside"))
    r.toParquet(r.slices(ev, col("us"))
        .withWatermark("ts", delay)
        .as[GeoEvt]
        .groupByKey(_.user_id)
        .transformWithState(new GeofenceProcessor,
          TimeMode.EventTime(), OutputMode.Append())
        .toDF())
      .orderBy(col("user_id"), col("at_us"), col("event_id"))
  }

  /**
   * kq49 — INACTIVITY WATCH via transformWithState EVENT-TIME TIMERS:
   * "alert when a user goes silent for `horizon`" — the ES Watcher /
   * alert-on-absence shape, which no window or join can express because
   * the trigger is the ABSENCE of rows; only a timer the watermark
   * drives can fire it. Each user's state re-arms a timer at
   * `last_seen + horizon`; the emission is timer-driven Append output
   * with state cleared on fire (see [[InactivityProcessor]]).
   *
   * Determinism on a finite AvailableNow replay: the no-data batch
   * advances the watermark to floor-to-ms(max event time) − delay, and
   * a timer fires iff `expiry <= watermark` — probed in StreamingSpec:
   * expiry == wm FIRES (timers share the tumbling-window `<=` eviction
   * boundary, NOT kq48's strict session-window one; the three operators'
   * boundary rules are pinned side by side). So the emitted set is
   * exactly the users with `floor_ms(last_seen) + horizon <= wm_ms` — a
   * pure batch predicate — and the still-active tail is absent BY
   * SEMANTICS.
   *
   * At 100 TB: state is one small row + one timer per live user inside
   * the horizon; both are keyed RocksDB entries, shuffled once on
   * user_id — rate × horizon bounded, history-independent.
   */
  def inactivityWatch(spark: SparkSession, events: DataFrame,
      horizonMs: Long = 21600000L, delay: String = "1 hour"): DataFrame =
    Replay(spark) { r =>
      import spark.implicits._
      r.toParquet(r.input(events.select(col("user_id"), col("ts")))
          .withWatermark("ts", delay)
          .withColumn("us", unix_micros(col("ts")))
          .as[UserEvt]
          .groupByKey(_.user_id)
          .transformWithState(new InactivityProcessor(horizonMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF())
        .orderBy(col("user_id"))
    }

  /**
   * kq48 — watermarked streaming SESSION WINDOWS (Append mode), the
   * production form of q25's batch sessionization: per-user activity
   * sessions over an unbounded event stream via `session_window`, with
   * state bounded by the watermark (open sessions are kept only until
   * the watermark passes their end; everything older is emitted once
   * and evicted). [[sessionActivity]] proved the operator at spec
   * level; this entry is the driver-checked, oracle-backed form.
   *
   * Two boundary semantics the oracle must encode EXACTLY (both pinned
   * in StreamingSpec with planted boundary rows):
   *
   *  - MERGE RULE: each event spans `[ts, ts + gap)` and sessions merge
   *    only on OVERLAP, so two events exactly `gap` apart are two
   *    sessions — the batch islands form must break on `diff >= gap`,
   *    not q25's `diff > gap` (half-open windows; an event at a
   *    session's `end` belongs to the next session).
   *  - EMISSION RULE: a session is emitted once
   *    `session_end < watermark` — STRICTLY before; a session ending
   *    exactly at the watermark stays open (pinned empirically in
   *    StreamingSpec, including a sub-ms-before-wm session that IS
   *    emitted, so the predicate is µs-grain `<`, not `<= wm − 1ms`).
   *    The watermark on a finite AvailableNow replay is
   *    floor-to-ms(max event time) − delay (event-time stats are
   *    tracked in MILLISECONDS; session ends keep µs precision, so the
   *    oracle compares µs against wm_ms × 1000). The open tail
   *    sessions are absent BY SEMANTICS, kq44's rule.
   *
   * At 100 TB: state is per-user open sessions inside the watermark
   * horizon only — rate × horizon rows, independent of history; the
   * aggregation shuffles once on user_id and session merging is a
   * per-key sorted scan inside the state store.
   */
  def sessionWindowWatermarked(spark: SparkSession, events: DataFrame,
      gap: String = "30 minutes", delay: String = "1 hour"): DataFrame =
    Replay(spark) { r =>
      r.toParquet(r.input(events.select(col("user_id"), col("event_id"),
            col("ts")))
          .withWatermark("ts", delay)
          .groupBy(session_window(col("ts"), gap), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events")))
        .orderBy(col("user_id"), col("start_us"))
    }

  /**
   * kq101 — INCREMENTAL RESTART (checkpoint recovery): the kq44
   * watermarked tumbling aggregation driven as TWO `AvailableNow` runs
   * sharing ONE checkpoint — exactly how production Spark pipelines do
   * scheduled incremental processing and how they recover from a
   * crash: run 1 sees only the older half of the input (split at the
   * median event time), terminates, and a SECOND query starts from the
   * same checkpoint to process only the newly-arrived half; window
   * state and source offsets resume from the checkpoint, nothing is
   * reprocessed and nothing is double-emitted.
   *
   * Determinism: run 1's watermark is `floor_ms(max ts of half 1) −
   * delay`, strictly below the median, and every window it closes ends
   * before that — so no half-2 event (all ≥ median) can belong to an
   * already-closed window and run-1 emissions are COMPLETE. The union
   * of both runs' emissions is therefore exactly kq44's batch tail
   * rule on the FULL input — the oracle is kq44's, proving
   * exactly-once across the restart.
   */
  def incrementalRestart(spark: SparkSession, envFlat: DataFrame,
      delay: String = "1 hour"): DataFrame = Replay(spark) { r =>
    val in = envFlat.where(col("event_type").isNotNull)
      .select(col("timestamp"), col("event_type"))
    val medianUs = in.select(expr(
      "percentile_approx(unix_micros(timestamp), 0.5, 10000)"))
      .head().getLong(0)
    val windows = r.session.readStream.schema(in.schema)
      .parquet(s"${r.in}/*") // both halves; offsets skip the done one
      .withWatermark("timestamp", delay)
      .groupBy(window(col("timestamp"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"))
    def run(half: DataFrame, tag: String): DataFrame = {
      half.write.mode("overwrite").parquet(s"${r.in}/$tag")
      r.toParquet(windows) // SHARED checkpoint: run 2 resumes run 1
    }
    run(in.where(unix_micros(col("timestamp")) < medianUs), "half1")
    run(in.where(unix_micros(col("timestamp")) >= medianUs), "half2")
      .orderBy(col("bucket"), col("event_type"))
  }

  case class WinEvt(win_ms: Long, event_type: String)
  case class TopkOut(win_ms: Long, rank: Long, event_type: String, n: Long)

  /**
   * [[StatefulProcessor]] backing [[windowTopk]] (kq94): keyed by the
   * TUMBLING WINDOW START, one `MapState[event_type → count]` per open
   * window plus one event-time timer at the window end. Arrivals do
   * point-updates against the map (the kq83 argument: never
   * rewrite-the-whole-map); when the watermark passes the window end
   * the timer fires ONCE, ranks the map, emits only the top-k rows and
   * clears the state — the windowed-aggregate emission discipline
   * (kq44) with a rank no streaming aggregate can express in Append
   * mode. State per open window is |distinct types in window| entries,
   * horizon-bounded like kq44's.
   */
  class WindowTopkProcessor(windowMs: Long, k: Int)
      extends StatefulProcessor[Long, WinEvt, TopkOut] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var armed: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      armed = getHandle.getValueState[Boolean]("armed",
        Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[WinEvt],
        timerValues: TimerValues): Iterator[TopkOut] = {
      val touched = scala.collection.mutable.Map.empty[String, Long]
      for (r <- rows) {
        val base = touched.getOrElse(r.event_type,
          if (counts.containsKey(r.event_type))
            counts.getValue(r.event_type)
          else 0L)
        touched(r.event_type) = base + 1L
      }
      for ((et, n) <- touched) counts.updateValue(et, n)
      if (!Option(armed.get()).exists(identity)) {
        getHandle.registerTimer(key + windowMs)
        armed.update(true)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TopkOut] = {
      val all = counts.iterator().toArray
      counts.clear()
      armed.clear()
      all.sortBy { case (t, n) => (-n, t) }.take(k).zipWithIndex.map {
        case ((t, n), i) => TopkOut(key, (i + 1).toLong, t, n)
      }.iterator
    }
  }

  /**
   * kq94 — STREAMING WINDOWED TOP-K ("Top N over time", the most-used
   * Kibana TSVB visualization) as ONE streaming operator: per 6 h
   * tumbling window, the top-3 event types by count, emitted
   * exactly-once when the watermark closes the window. Append-mode
   * streaming aggregation cannot rank WITHIN the emitted window (no
   * window functions over a streaming aggregate), so this is
   * transformWithState keyed by the window start — see
   * [[WindowTopkProcessor]].
   *
   * Determinism on a finite AvailableNow replay: event-time timers
   * fire iff `expiry <= watermark` (the kq49 pinned boundary; wm =
   * floor-to-ms(max event time) − delay over the FILTERED stream), so
   * the emitted set is exactly the windows with
   * `win_end_ms <= wm_ms` — kq44's tail rule — each contributing its
   * batch top-3 with (count DESC, type ASC) tie-break. The open tail
   * window is absent BY SEMANTICS. At 100 TB: state is one map entry
   * per (open window, type) + one timer per open window, shuffled once
   * on the window key; the emitted stream is k rows per window however
   * large the input.
   */
  def windowTopk(spark: SparkSession, envFlat: DataFrame,
      windowMs: Long = 21600000L, k: Int = 3,
      delay: String = "1 hour"): DataFrame = Replay(spark) { r =>
    import spark.implicits._
    r.toParquet(r.input(envFlat.where(col("event_type").isNotNull)
          .select(col("timestamp"), col("event_type")))
        .withWatermark("timestamp", delay)
        .select(col("timestamp"), // keeps the event-time/watermark column
          expr(s"(unix_micros(timestamp) div ${windowMs * 1000L})" +
            s" * $windowMs").as("win_ms"),
          col("event_type"))
        .as[WinEvt]
        .groupByKey(_.win_ms)
        .transformWithState(new WindowTopkProcessor(windowMs, k),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF())
      .select(expr("timestamp_micros(win_ms * 1000)").as("bucket"),
        col("rank"), col("event_type"), col("n"))
      .orderBy(col("bucket"), col("rank"))
  }

  case class RegEvt(bucket_ms: Long, ts: java.sql.Timestamp, j: Int,
    rho: Int)
  case class RegOut(bucket_ms: Long, j: Int, m: Int)

  /**
   * [[StatefulProcessor]] backing [[slidingUniquesStream]] (kq105):
   * keyed by the HOURLY BUCKET, one `MapState[register j -> max rho]`
   * per open bucket — the INCREMENTAL form of kq102's per-bucket HLL
   * registers. Each arrival point-updates at most one of 64 entries
   * (the kq83 argument: never rewrite the whole sketch; a
   * ValueState[Array] would). Emission is Update-mode: a register row
   * (bucket, j, m) is emitted exactly when its stored max INCREASES, so
   * the per-(bucket, j) max over all emissions is the final register —
   * which is exactly the batch `max(rho) GROUP BY bucket, j`, giving
   * kq102's oracle unchanged.
   *
   * State is BOUNDED by an event-time timer at the bucket's end: once
   * the watermark passes `bucket + 1 h` no event of this bucket can
   * still arrive (any such row has ts < bucket end <= wm and is dropped
   * by the framework before the processor sees it), so clearing the map
   * is lossless — live state is <= 64 entries x (open buckets within
   * the watermark delay + 1 h), independent of stream length. Re-arming
   * registers the same (key, expiry) each batch that touches the
   * bucket; post-eviction duplicates fire on empty state as no-ops.
   */
  class SlidingRegProcessor
      extends StatefulProcessor[Long, RegEvt, RegOut] {
    @transient private var regs: MapState[Int, Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getMapState[Int, Int]("regs",
        Encoders.scalaInt, Encoders.scalaInt, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RegEvt],
        timerValues: TimerValues): Iterator[RegOut] = {
      val upd = scala.collection.mutable.Map.empty[Int, Int]
      for (r <- rows) {
        val cur = upd.getOrElse(r.j,
          if (regs.containsKey(r.j)) regs.getValue(r.j) else Int.MinValue)
        if (r.rho > cur) upd(r.j) = r.rho
      }
      for ((j, m) <- upd) regs.updateValue(j, m)
      getHandle.registerTimer(key + 3600000L) // evict at bucket close
      upd.iterator.map { case (j, m) => RegOut(key, j, m) }
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[RegOut] = {
      regs.clear()
      Iterator.empty
    }
  }

  /**
   * kq106 — STREAMING PERCOLATOR (the ES Watcher / alerting shape):
   * kq55's reverse search run CONTINUOUSLY — every stored KQL query is
   * compiled at plan time to a Catalyst predicate and evaluated against
   * each incoming record as one map-only verdict array (no join, no
   * state store), and each stored query's match stream is then
   * throttled with kq97's greedy emission rule: an alert fires only if
   * the match is >= `periodUs` after the query's PREVIOUS fired alert
   * (event time). Percolation is stateless and embarrassingly parallel;
   * the only cross-batch state is ONE timestamp per stored query — the
   * chain tail — carried on the driver (bounded by the registry size,
   * the same bounded-sync discipline as the k-means codebooks). Within
   * a batch the chain runs DISTRIBUTED per query via
   * flatMapSortedGroups seeded from the carried tail.
   *
   * Replay determinism: the fixture envelope splits into four STRICT
   * event-time slices (equal timestamps can never straddle a batch
   * boundary), one micro-batch each, so the per-batch greedy chains
   * compose to exactly the global batch chain — which is the DuckDB
   * oracle (kq97's recursive-CTE shape keyed by query_id over the
   * kq55 UNION-ALL match legs). No watermark is involved, so no
   * emission-boundary rule applies (the kq50 stateless precedent).
   *
   * At 100 TB/day: percolation cost is one scan regardless of registry
   * size, the throttle state is O(#stored queries), and the per-batch
   * sort is per-query matches only — alerts, not the corpus. The
   * tail sync too is BATCH-BOUNDED: it aggregates the current batch's
   * persisted emissions and max-merges into the carried tails, never
   * re-reading the ever-growing alert history (which would make total
   * work quadratic in alerts over the stream's lifetime).
   * `onBatch` is a test hook: (batchId, nMatches) per micro-batch;
   * `onSync` reports (batchId, rows the tail sync aggregated) so specs
   * can pin that the sync input is the batch's emissions, not history.
   */
  /** The stored-query registry (ES Watcher shape) shared by kq106 and
    * the composed kq112 pipeline — four KQL predicates covering the
    * field/range, wildcard, analyzed-free-text and boolean forms. */
  def storedQueries: Seq[(Int, org.apache.spark.sql.Column)] = Seq(
    1 -> graft.query.LogQueries.kql("event_type:click AND value >= 50"),
    2 -> graft.query.LogQueries.kql("event_type:p*"),
    3 -> graft.query.LogQueries.kql("\"TOMBSTONE\""),
    4 -> graft.query.LogQueries.kql("value < 10 OR event_type:signup"))

  /** The greedy per-query alert-throttle chain over ONE micro-batch of
    * (query_id, us) matches, seeded from the carried tails and run
    * DISTRIBUTED per query (flatMapSortedGroups) — shared by kq106 and
    * kq112. */
  private def chainEmissions(batch: Dataset[org.apache.spark.sql.Row],
      seed: Map[Int, Long], periodUs: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.as[(Int, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("us")) { (qid, it) =>
        var last = seed.getOrElse(qid, Long.MinValue)
        it.flatMap { case (_, us) =>
          if (last == Long.MinValue || us >= last + periodUs) {
            last = us
            Some((qid, us))
          } else None
        }
      }
      .toDF("query_id", "emitted_us")
  }

  def percolateStream(spark: SparkSession, envFlat: DataFrame,
      stored: Seq[(Int, Column)], periodUs: Long = 21600000000L,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      onSync: (Long, Long) => Unit = (_, _) => ()): DataFrame =
    Replay(spark) { r =>
      import spark.implicits._
      val ev = envFlat.select(col("uid"), col("timestamp"),
        col("event_type"), col("value"), col("value_json"))
      val verdicts = array(stored.map { case (id, p) =>
        struct(lit(id).as("query_id"), p.as("hit")) }: _*)
      val lastUs = scala.collection.mutable.Map[Int, Long]()
      // four STRICT time slices -> four consecutive micro-batches; a tie
      // timestamp always lands in exactly one slice
      r.run(r.slices(ev, unix_micros(col("timestamp")))
        .select(unix_micros(col("timestamp")).as("us"),
          explode(verdicts).as("m"))
        .where(col("m.hit"))
        .select(col("m.query_id").as("query_id"), col("us")))(
        _.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          // seed each query's chain from the carried tail; the chain
          // itself runs distributed, per query
          val seed = lastUs.toMap
          val em = chainEmissions(batch, seed, periodUs).persist()
          em.coalesce(1).write.mode("append").parquet(r.out)
          // bounded driver sync: one chain-tail row per stored query,
          // computed from THIS batch's emissions only (the persisted
          // `em`, materialized once by the write above) and max-merged
          // into the carried tails — NEVER by re-reading the alert
          // history, whose size grows with stream lifetime
          onBatch(batchId, batch.count())
          val tails = em.groupBy(col("query_id"))
            .agg(max(col("emitted_us")).as("mx"))
            .as[(Int, Long)].collect()
          onSync(batchId, em.count())
          em.unpersist()
          tails.foreach { case (k, v) =>
            lastUs(k) = math.max(lastUs.getOrElse(k, Long.MinValue), v)
          }
        })
      r.readBack(StructType.fromDDL("query_id INT, emitted_us BIGINT"))
        .orderBy(col("query_id"), col("emitted_us"))
    }

  /**
   * kq112 — the COMPOSED STREAMING PIPELINE: x60 proves the batch
   * curation chain composes into ONE Catalyst plan; this is the
   * streaming analogue as ONE continuous query, end to end:
   *
   *   raw records (the Kafka-source column contract, replayed as four
   *   strict event-time slices) → converter + 7-stage SMT enrichment
   *   (kq7/kq10's chain on the unbounded frame) → quality gate (x70's
   *   native hashed-linear score over the JSON text, map-side) →
   *   percolation against the kq106 stored-query registry (map-only
   *   verdict array) → alert throttle + EXACTLY-ONCE sink (kq53's
   *   batchId-keyed dynamic-partition overwrite).
   *
   * Everything upstream of the sink is stateless Column logic, so the
   * whole chain plans as ONE streaming micro-batch plan — no
   * intermediate materialization, one scan per trigger (`onBatch`
   * exposes each micro-batch's executed plan so the spec pins exactly
   * that). The only cross-batch state is the kq106 chain tail
   * (O(#stored queries), batch-bounded sync); on driver restart it
   * rebuilds from the alerts table itself (the kq101 pattern — one
   * bounded read, max per query).
   *
   * Exactly-once: each batch's alerts land as a `batch_id=<id>`
   * partition via dynamic overwrite. The simulated at-least-once retry
   * re-runs batch 1's ENTIRE compute+commit from the SAME carried seed
   * (tails merge only after commit, exactly what a recovered task
   * sees), so the rewrite is byte-identical — the streamed result must
   * equal the batch gate→match→chain replay, which is the oracle.
   */
  def composedPipeline(spark: SparkSession, dir: String,
      periodUs: Long = 21600000000L,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      onPlan: String => Unit = _ => ()): DataFrame = Replay(spark) { r =>
    import spark.implicits._
    val raw = graft.ingest.Sources.eventsAsRecords(spark, dir)
    val vj = graft.Pipeline.ValueJsonField
    val flat = Envelope.flat(Transforms.enrich(vj)(
      r.slices(raw, unix_micros(col("timestamp")))))
    val gated = flat.where(graft.functions.HashedLinearScore
      .hashedLinearScore(col(vj)) > 0)
    val verdicts = array(storedQueries.map { case (id, p) =>
      struct(lit(id).as("query_id"), p.as("hit")) }: _*)
    val matches = gated
      .select(unix_micros(col("timestamp")).as("us"),
        explode(verdicts).as("m"))
      .where(col("m.hit"))
      .select(col("m.query_id").as("query_id"), col("us"))
    val lastUs = scala.collection.mutable.Map[Int, Long]()
    val table = s"${r.work}/alerts"
    val q = r.run(matches)(
      _.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val seed = lastUs.toMap
        def commit(): Array[(Int, Long)] = {
          val em = chainEmissions(batch, seed, periodUs).persist()
          em.withColumn("batch_id", lit(batchId))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(table)
          val tails = em.groupBy(col("query_id"))
            .agg(max(col("emitted_us")).as("mx"))
            .as[(Int, Long)].collect()
          em.unpersist()
          tails
        }
        val tails = commit()
        // simulated at-least-once retry: batch 1's full compute +
        // commit re-runs from the SAME seed (tails merge only after)
        // — the dynamic overwrite must be byte-identical
        if (batchId == 1L) commit()
        onBatch(batchId, tails.length.toLong)
        tails.foreach { case (k, v) =>
          lastUs(k) = math.max(lastUs.getOrElse(k, Long.MinValue), v)
        }
      })
    onPlan(org.apache.spark.sql.GraftColumnBridge.lastStreamingPlan(q))
    // a corpus whose gated matches are all empty commits NO batch_id
    // partitions — no footer to take a schema from, so the frame is an
    // explicit-schema empty one
    val alerts = Tables.footerSchema(spark, table).fold(
      spark.range(0).select(col("id").cast("int").as("query_id"),
        col("id").as("emitted_us")))(spark.read.schema(_).parquet(table))
    alerts
      .select(col("query_id"), col("emitted_us"))
      .orderBy(col("query_id"), col("emitted_us"))
      .localCheckpoint() // materialize before the work dir is deleted
  }

  /**
   * kq105 — STREAMING SLIDING-WINDOW UNIQUE USERS, the serving path's
   * streaming half (round-12 verdict item 7): kq102 rebuilds the
   * per-bucket HLL registers from a batch events scan; here the
   * registers accrue INCREMENTALLY as events arrive, via
   * [[SlidingRegProcessor]] map state, and the trailing-24 h merge
   * stays the same O(buckets x 64) register-max fold — so the dashboard
   * estimate is continuously maintainable with per-bucket state bounded
   * by watermark eviction, and events are never re-scanned.
   *
   * Replay contract (the kq46/kq50 pattern): the fixture replays as
   * FOUR time-ordered files under `maxFilesPerTrigger=1` (state and
   * eviction genuinely cross micro-batches); the Update-mode emission
   * fixpoint equals the batch registers (see the processor doc), so the
   * downstream merge + estimate reproduce kq102's result row-for-row —
   * the DuckDB oracle is kq102's, unchanged.
   *
   * Update-mode-with-fixpoint was chosen over the Append-on-close
   * alternative (emit final registers from the eviction timer, kq94's
   * discipline) deliberately: a serving dashboard wants the CURRENT
   * bucket's estimate refreshed as events arrive, not withheld until
   * the watermark closes it, and the fixpoint contract covers EVERY
   * bucket on a finite replay where Append-on-close would drop the open
   * tail (kq44's tail rule) and weaken the oracle to a boundary-ruled
   * subset.
   *
   * At 100 TB: arrivals shuffle once on the bucket key; state is 64
   * point-updatable entries per open bucket; the merge reads the tiny
   * register stream, never events.
   */
  def slidingUniquesStream(spark: SparkSession, envFlat: DataFrame,
      delay: String = "1 hour"): DataFrame = Replay(spark) { r =>
    import spark.implicits._
    val ev = graft.ext.Sketches
      .withRegister(envFlat, concat(lit("uu:"), col("key")))
      .select(col("timestamp").as("ts"),
        expr("(unix_micros(date_trunc('hour', timestamp)) div 1000)")
          .as("bucket_ms"),
        col("j").cast("int").as("j"), col("rho").cast("int").as("rho"))
    // four time-ordered slices -> four consecutive micro-batches
    val emitted = r.toMemory(r.slices(ev, unix_micros(col("ts")))
        .withWatermark("ts", delay)
        .as[RegEvt]
        .groupByKey(_.bucket_ms)
        .transformWithState(new SlidingRegProcessor,
          TimeMode.EventTime(), OutputMode.Update())
        .toDF(),
      OutputMode.Update())
    // emission fixpoint = final registers (values only ever increase),
    // then kq102's serving fold, verbatim
    graft.ext.Sketches.slidingUniques(r.keep(emitted
      .groupBy(col("bucket_ms"), col("j")).agg(max(col("m")).as("m"))
      .select(expr("timestamp_micros(bucket_ms * 1000)").as("bucket"),
        col("j"), col("m"))))
  }
}
