package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamPipeline
import graft.transform.Transforms

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  case class Payload(event_type: String, value: Double, props: String)
  case class RecIn(key: String, value: Option[Payload], topic: String,
      partition: Int, offset: Long, timestamp: java.sql.Timestamp)

  private def ts(h: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  private def rec(key: String, off: Long, h: Int,
      tomb: Boolean = false): RecIn =
    RecIn(key,
      if (tomb) None else Some(Payload("click", off * 1.0, s"""{"k":$off}""")),
      "events", (key.hashCode & 3), off, ts(h))

  test("streaming ingest: enrichment chain runs on an unbounded frame") {
    val in = MemoryStream[RecIn]
    val env = Transforms.enrich("value_json")(in.toDF())
    val q = env.writeStream.format("memory").queryName("ingest_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(rec("a", 0, 0), rec("b", 1, 1), rec("a", 2, 2, tomb = true))
      q.processAllAvailable()
      val out = spark.table("ingest_out")
      assert(out.count() == 3)
      assert(out.where($"message.value_json" === "TOMBSTONE").count() == 1)
      assert(out.where($"uid" === s"events+${"a".hashCode & 3}+0").count() == 1)
    } finally q.stop()
  }

  test("KQL predicates (incl. analyzed match_phrase) filter a STREAMING " +
      "envelope — live-tail search, stateless map-side filter") {
    val in = MemoryStream[RecIn]
    val env = Transforms.enrich("value_json")(in.toDF())
    // the Kibana search box pointed at a live tail: a quoted phrase must
    // match [event, type, click] at consecutive analyzed positions of
    // the payload JSON; bare-term and field clauses compose as in batch
    val filtered = env.where(graft.query.Kql.parse(
      "\"Event_Type: CLICK\" AND NOT key:b", "message.value_json"))
    val q = filtered.writeStream.format("memory").queryName("kql_stream_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(rec("a", 0, 0), rec("b", 1, 1), rec("a", 2, 2, tomb = true))
      q.processAllAvailable()
      val out = spark.table("kql_stream_out")
      // rec a/0 is a click and not key b; b/1 is excluded by the NOT;
      // the tombstone has no phrase match
      assert(out.count() == 1)
      assert(out.select($"key").as[String].head() == "a")
    } finally q.stop()
  }

  test("streaming histogram: watermarked windowed counts") {
    val in = MemoryStream[RecIn]
    val env = Transforms.enrich("value_json")(in.toDF())
    val hist = StreamPipeline.discoverHistogram(env, "1 hour", "2 hours")
    val q = hist.writeStream.format("memory").queryName("hist_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(rec("a", 0, 0), rec("b", 1, 0), rec("c", 2, 1))
      q.processAllAvailable()
      val out = spark.table("hist_out").orderBy($"bucket").collect()
      assert(out.map(_.getLong(1)).toSeq == Seq(2L, 1L))
    } finally q.stop()
  }

  case class Doc(doc_id: Long, text: String, timestamp: java.sql.Timestamp)

  test("streaming ingestion dedup: replayed content dropped within the " +
      "watermark, state keyed by content hash") {
    val in = MemoryStream[Doc]
    val deduped = StreamPipeline.dedupIngest(in.toDF())
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Doc(0, "alpha beta", ts(0)),
        Doc(1, "gamma delta", ts(0)),
        Doc(2, "alpha beta", ts(1))) // replay of doc 0's content
      q.processAllAvailable()
      // second batch: another replay, still inside the watermark horizon
      in.addData(Doc(3, "alpha beta", ts(1)), Doc(4, "epsilon", ts(1)))
      q.processAllAvailable()
      val out = spark.table("dedup_out")
      assert(out.count() == 3) // alpha-beta once, gamma-delta, epsilon
      assert(out.groupBy($"content_hash").count()
        .where($"count" > 1).count() == 0)
      assert(out.where($"text" === "alpha beta").count() == 1)
    } finally q.stop()
  }

  test("stream-static join: broadcast dim attaches to flowing records") {
    val in = MemoryStream[RecIn]
    val env = Transforms.enrich("value_json")(in.toDF())
    val dim = Seq(("a", "gold")).toDF("dim_key", "tier")
    val joined = StreamPipeline.joinDim(env, dim, "dim_key")
    val q = joined.writeStream.format("memory").queryName("dimjoin_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(rec("a", 1, 0), rec("b", 2, 1))
      q.processAllAvailable()
      val out = spark.table("dimjoin_out")
      assert(out.count() == 2)
      assert(out.where($"key" === "a" && $"tier" === "gold").count() == 1)
      assert(out.where($"key" === "b").select($"tier").head().isNullAt(0))
    } finally q.stop()
  }

  test("stream-stream join: time-bounded correlation with bounded state") {
    val lIn = MemoryStream[RecIn]
    val rIn = MemoryStream[RecIn]
    val joined = StreamPipeline.streamStreamJoin(
      Transforms.enrich("value_json")(lIn.toDF()),
      Transforms.enrich("value_json")(rIn.toDF()),
      within = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      lIn.addData(rec("a", 1, 1), rec("b", 2, 1))
      rIn.addData(rec("a", 10, 1), // within the hour → matches
        rec("a", 11, 5), // 4h later → outside bound, no match
        rec("c", 12, 1)) // no left side
      q.processAllAvailable()
      val out = spark.table("ssj_out")
      assert(out.count() == 1)
      val row = out.head()
      assert(row.getAs[String]("l_key") == "a" &&
        row.getAs[Long]("r_offset") == 10L)
    } finally q.stop()
  }

  test("latest-state runs on the RocksDB state store provider") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[RecIn]
    val latest = StreamPipeline.latestStatePerKey(
      Transforms.enrich("value_json")(in.toDF()), "value_json")
    val q = latest.toDF().writeStream.format("memory").queryName("rocks_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(rec("a", 1, 0), rec("a", 7, 2))
      q.processAllAvailable()
      assert(spark.table("rocks_out").agg(max($"offset")).as[Long].head() == 7L)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState: typed ValueState accumulates per key across " +
      "triggers (count + latest-by-offset value)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[RecIn]
    val stats = StreamPipeline.keyStatsPerKey(
      Transforms.enrich("value_json")(in.toDF()), "value_json")
    val q = stats.toDF().writeStream.format("memory").queryName("tws_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(rec("a", 1, 0), rec("a", 5, 2), rec("b", 2, 1))
      q.processAllAvailable()
      in.addData(rec("a", 3, 1)) // late, lower offset: counts, doesn't win
      q.processAllAvailable()
      val a = spark.table("tws_out").where($"key" === "a")
        .orderBy($"n".desc).head()
      assert(a.getAs[Long]("n") == 3L) // state survived the trigger gap
      assert(a.getAs[Long]("last_offset") == 5L)
      val b = spark.table("tws_out").where($"key" === "b").head()
      assert(b.getAs[Long]("n") == 1L)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming latest-state: state survives across triggers, max wins") {
    val in = MemoryStream[RecIn]
    val env = Transforms.enrich("value_json")(in.toDF())
    val latest = StreamPipeline.latestStatePerKey(env, "value_json")
    val q = latest.toDF().writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(rec("a", 0, 0), rec("a", 5, 2))
      q.processAllAvailable()
      in.addData(rec("a", 3, 1)) // late, lower (ts, offset) — must NOT win
      q.processAllAvailable()
      val rows = spark.table("state_out")
        .orderBy($"offset".desc).select($"offset").as[Long].collect()
      // last emitted state for key a is still offset 5
      assert(rows.head == 5L)
      in.addData(rec("a", 9, 3))
      q.processAllAvailable()
      val after = spark.table("state_out").agg(max($"offset")).as[Long].head()
      assert(after == 9L)
    } finally q.stop()
  }

  test("stream alert: windowed streaming counts equal batch windowing; " +
      "alerts are exactly the above-1.2x-mean buckets") {
    val flat = Pipeline.envelopeFlat(spark, sf)
    val alerts = StreamPipeline.windowAlertBatch(spark, flat)
      .select($"bucket", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect()
    val batch = flat.where($"event_type".isNotNull)
      .groupBy(window($"timestamp", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect()
    val total = batch.map(_._3).sum
    val nw = batch.length.toLong
    val want = batch.filter { case (_, _, n) => n * 5 * nw > total * 6 }
      .sortBy(r => (r._1.getTime, r._2))
    assert(alerts.toSeq == want.toSeq)
    // the rule actually discriminates: some but not all windows alert
    assert(alerts.nonEmpty && alerts.length < nw)
  }

  test("stream dedup: dropDuplicates state yields exactly the batch " +
      "distinct-payload counts per event type") {
    val flat = Pipeline.envelopeFlat(spark, sf)
    val got = StreamPipeline.streamDedupBatch(spark, flat)
      .select($"event_type", $"n_distinct")
      .as[(String, Long)].collect().toMap
    val want = flat
      .groupBy(coalesce($"event_type", lit("TOMBSTONE")).as("t"))
      .agg(countDistinct($"value_json").as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == want)
    // duplicates genuinely exist in the fixture: the streaming state
    // suppressed at least one row
    assert(got.values.sum < flat.count())
  }

  test("stream-stream interval join: watermarked streaming pairs equal " +
      "the batch time-bounded join exactly") {
    val ev = graft.ingest.Tables.load(spark, sf, "events")
    val streamed = StreamPipeline.streamIntervalJoin(spark, ev).collect()
    val s = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_id"),
        col("ts").as("s_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val batch = s.join(p, col("user_id") === col("u2") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("interval 24 hours"))
      .select(col("user_id"), col("s_id"), col("p_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("s_ts")))
          .as("gap_us"))
      .orderBy(col("user_id"), col("s_id"), col("p_id")).collect()
    assert(streamed.sameElements(batch))
    assert(streamed.nonEmpty)
    // every gap respects the interval bounds
    assert(streamed.forall { r =>
      val g = r.getAs[Long]("gap_us"); g >= 0 && g <= 86400000000L
    })
  }

  test("stream-static enrichment: stateless replay equals the batch " +
      "left join, dim misses flow through null-extended") {
    val ev = graft.ingest.Tables.load(spark, sf, "events")
    val cust = graft.ingest.Tables.load(spark, sf, "customer")
    val streamed = StreamPipeline.streamStaticEnrich(spark, ev, cust)
    val dim = cust.where(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_mktsegment").as("mktsegment"),
        col("c_nationkey").as("nationkey"))
    val batch = ev.join(dim, col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("mktsegment"), col("nationkey"))
      .orderBy(col("event_id"))
    assert(streamed.collect().sameElements(batch.collect()))
    // no events lost to dim gaps (the LEFT join is load-bearing) ...
    assert(streamed.count() == ev.count())
    // ... and the fixture genuinely exercises both legs
    assert(streamed.where(col("mktsegment").isNull).count() > 0)
    assert(streamed.where(col("mktsegment").isNotNull).count() > 0)
  }

  test("session windows (watermarked append): boundary semantics — exact-gap " +
      "events split; end==wm withheld, end sub-ms before wm emitted") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: two events exactly 30 min apart — half-open [ts, ts+gap)
    // windows do NOT overlap, so they are TWO sessions
    // user 2: lone early event, session end 09:30 — safely closed
    // user 99: the watermark setter — max ts 11:30 → wm = 10:30, which is
    // EXACTLY user 1's first session end (the <= emission boundary)
    val ev = Seq(
      (1L, 10L, t("2024-01-01 10:00:00")),
      (1L, 11L, t("2024-01-01 10:30:00")),
      (2L, 20L, t("2024-01-01 09:00:00")),
      // end = 10:29:59.999500 — 500 µs BEFORE the ms-grained watermark
      (3L, 30L, t("2024-01-01 09:59:59.9995")),
      (99L, 90L, t("2024-01-01 11:30:00"))
    ).toDF("user_id", "event_id", "ts")
    val out = StreamPipeline.sessionWindowWatermarked(spark, ev)
      .select($"user_id", $"start_us", $"end_us", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    def us(s: String) = t(s).getTime * 1000L
    assert(out == Set(
      (2L, us("2024-01-01 09:00:00"), us("2024-01-01 09:30:00"), 1L),
      // sub-ms before the watermark → emitted: the predicate is a strict
      // µs-grain end < wm, not end <= wm - 1ms
      (3L, us("2024-01-01 09:59:59") + 999500L,
        us("2024-01-01 10:29:59") + 999500L, 1L)))
    // user 1's FIRST session ends exactly AT the watermark and is NOT
    // emitted (strict <); the second (end 11:00) and user 99's (end
    // 12:00) are past the watermark — withheld open state
  }

  test("tumbling windows (watermarked append): kq44's emission boundary is " +
      "end <= wm — end==wm EMITS, unlike session windows' strict rule") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // 6 h windows, 1 h delay. Window [00:00, 06:00) closes against the
    // watermark set by the max event time:
    //   max 07:00:00.000 → wm 06:00:00.000 == end → EMITTED (<=)
    //   max 06:59:59.999 → wm 05:59:59.999 <  end → withheld
    // (session windows differ: kq48's probe shows end == wm stays open
    // there — the two operators' eviction predicates are NOT the same)
    def run(maxTs: String): Set[(java.sql.Timestamp, String, Long)] =
      StreamPipeline.windowAlertWatermarked(spark,
        Seq(("click", t("2024-01-01 01:00:00")),
          ("view", t(maxTs))).toDF("event_type", "timestamp"))
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(run("2024-01-01 07:00:00") ==
      Set((t("2024-01-01 00:00:00"), "click", 1L)))
    assert(run("2024-01-01 06:59:59.999") == Set.empty)
  }

  test("session windows (watermarked append): streamed fixture sessions " +
      "equal the batch islands form with >= gap splits and the wm filter") {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 1800000000L
    val ev = graft.ingest.Tables.load(spark, sf, "events")
    val streamed = StreamPipeline.sessionWindowWatermarked(spark, ev).collect()
    val evUs = ev.select($"user_id", $"event_id",
      unix_micros($"ts").as("us"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wmUs = (ev.agg(max(unix_millis($"ts"))).head().getLong(0)
      - 3600000L) * 1000L
    val batch = evUs
      .withColumn("brk", when(lag($"us", 1).over(w).isNull ||
        $"us" - lag($"us", 1).over(w) >= gapUs, 1L).otherwise(0L))
      .withColumn("sidx", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sidx")
      .agg(min($"us").as("start_us"),
        (max($"us") + gapUs).as("end_us"),
        count(lit(1)).as("n_events"))
      .where($"end_us" < wmUs)
      .select($"user_id", $"start_us", $"end_us", $"n_events")
      .orderBy($"user_id", $"start_us").collect()
    assert(streamed.sameElements(batch))
    assert(streamed.nonEmpty)
  }

  test("inactivity watch (event-time timers): expiry == wm FIRES (the " +
      "tumbling-window <= rule, not kq48's strict one); tail stays armed") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // horizon 6 h, delay 1 h. user 1's timer arms at 06:00:00.000:
    //   max 07:00:00.000 → wm 06:00:00.000 == expiry → FIRES (<=)
    //   max 06:59:59.999 → wm 05:59:59.999 <  expiry → still armed
    def run(maxTs: String): Map[Long, (Long, Long)] =
      StreamPipeline.inactivityWatch(spark,
        Seq((1L, t("2024-01-01 00:00:00")),
          (99L, t(maxTs))).toDF("user_id", "ts"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    assert(run("2024-01-01 07:00:00") ==
      Map(1L -> ((1L, t("2024-01-01 00:00:00").getTime * 1000L))))
    assert(run("2024-01-01 06:59:59.999") == Map.empty)
    // user 99 (the live tail) never fires — its horizon is open
  }

  test("windowed top-k (kq94): ties break on type, the == wm window " +
      "FIRES, the sub-ms-early watermark does not, tail absent") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def run(maxTs: String): Seq[(Long, String, Long)] =
      StreamPipeline.windowTopk(spark,
        Seq(("a", "2024-01-01 00:10:00"), ("a", "2024-01-01 01:00:00"),
          ("b", "2024-01-01 02:00:00"), ("b", "2024-01-01 03:00:00"),
          ("c", "2024-01-01 04:00:00"), ("d", "2024-01-01 05:00:00"),
          ("z", maxTs))
          .map { case (et, ts) => (et, t(ts)) }
          .toDF("event_type", "timestamp"))
        .select(col("rank"), col("event_type"), col("n"))
        .as[(Long, String, Long)].collect().toSeq
    // wm = 06:00:00.000 == window [00:00, 06:00) end → timer FIRES;
    // a/b tie (2 each) breaks a first; c/d tie (1 each) keeps only c
    assert(run("2024-01-01 07:00:00") ==
      Seq((1L, "a", 2L), (2L, "b", 2L), (3L, "c", 1L)))
    // wm a millisecond short of the window end → nothing fires
    assert(run("2024-01-01 06:59:59.999") == Seq.empty)
  }

  test("windowed top-k (kq94): streamed fixture emissions equal the " +
      "batch top-3 of every closed window") {
    val env = graft.Pipeline.envelopeFlat(spark, sf)
      .where(col("event_type").isNotNull)
    val streamed = StreamPipeline.windowTopk(spark, env).collect()
    val wmMs =
      env.agg(max(unix_millis(col("timestamp")))).head().getLong(0) -
        3600000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win_ms")).orderBy(col("n").desc, col("event_type"))
    val batch = env
      .withColumn("win_ms",
        expr("(unix_micros(timestamp) div 21600000000) * 21600000"))
      .groupBy(col("win_ms"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .where(col("win_ms") + 21600000L <= wmMs)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(expr("timestamp_micros(win_ms * 1000)").as("bucket"),
        col("rank"), col("event_type"), col("n"))
      .orderBy(col("bucket"), col("rank")).collect()
    assert(streamed.sameElements(batch))
    assert(streamed.nonEmpty)
  }

  test("incremental restart (kq101): the two-run checkpointed emission " +
      "equals the single-run kq44 emission exactly — nothing " +
      "reprocessed, nothing double-emitted") {
    val env = graft.Pipeline.envelopeFlat(spark, sf)
    val restarted = StreamPipeline.incrementalRestart(spark, env).collect()
    val single = StreamPipeline.windowAlertWatermarked(spark, env).collect()
    assert(restarted.sameElements(single))
    assert(restarted.nonEmpty)
  }

  test("inactivity watch: streamed fixture emissions equal the batch " +
      "last-seen + horizon <= watermark predicate, counts exact") {
    val ev = graft.ingest.Tables.load(spark, sf, "events")
    val streamed = StreamPipeline.inactivityWatch(spark, ev).collect()
    val wmMs =
      ev.agg(max(unix_millis(col("ts")))).head().getLong(0) - 3600000L
    val batch = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_seen_us"))
      .where(floor(col("last_seen_us") / 1000L) + 21600000L <= wmMs)
      .orderBy(col("user_id")).collect()
    assert(streamed.sameElements(batch))
    // both sides of the watermark genuinely occur
    assert(streamed.nonEmpty)
    assert(streamed.length < ev.select(col("user_id")).distinct().count())
  }

  test("left-outer interval join: null-extended signups are exactly the " +
      "unmatched ones the final watermark closed") {
    val ev = graft.ingest.Tables.load(spark, sf, "events")
    val out = StreamPipeline.streamIntervalJoinOuter(spark, ev)
    val matched = out.where(col("p_id").isNotNull)
    val nulls = out.where(col("p_id").isNull)
    // inner leg == kq46's join
    val inner = StreamPipeline.streamIntervalJoin(spark, ev)
    assert(matched.collect().sameElements(inner.collect()))
    // null leg: unmatched AND s_ts + 24h behind the min-side watermark
    val s = ev.where(col("event_type") === "signup")
    val p = ev.where(col("event_type") === "purchase")
    val wmMs = math.min(
      s.agg(max(unix_millis(col("ts")))).head().getLong(0),
      p.agg(max(unix_millis(col("ts")))).head().getLong(0)) - 3600000L
    val expected = s.join(p.select(col("user_id").as("u2"),
          col("ts").as("p_ts")),
        col("user_id") === col("u2") && col("p_ts") >= col("ts") &&
          col("p_ts") <= col("ts") + expr("interval 24 hours"),
        "left_anti")
      .where(unix_millis(col("ts")) + 86400000L < wmMs)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(nulls.collect().map(_.getAs[Long]("s_id")).toSet == expected)
    assert(nulls.count() > 0) // the outer leg is genuinely exercised
  }

  test("exactly-once foreachBatch sink: the deliberately REPLAYED batch " +
      "commit is a no-op — the rollup equals the one-shot batch aggregate") {
    val ev = graft.ingest.Tables.load(spark, sf, "events")
    val got = StreamPipeline.exactlyOnceSink(spark, ev)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // one-shot batch reference, same cents recipe; if the replayed
    // batch-1 commit had APPENDED instead of overwriting, its types'
    // counts and sums would double and this equality breaks
    val ref = ev.where(col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)")).as("cents"))
      .select(col("event_type"), col("n"),
        (col("cents").cast("decimal(38,0)").cast("double") / 100)
          .as("sum_v"))
      .orderBy(col("event_type"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == ref)
    assert(got.nonEmpty)
  }

  test("CEP pattern alert (list state): streamed alerts equal the batch " +
      "RANGE-window count; at least one alert's window spans a " +
      "micro-batch boundary") {
    val windowUs = 86400L * 1000000L
    val events = graft.ingest.Tables.load(spark, sf, "events")
    val got = graft.streaming.StreamPipeline.patternAlerts(spark, events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // batch reference: per-user trailing-24h count at each click
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect()
    val byUser = clicks.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ref = (for {
      (u, times) <- byUser.toSeq
      t <- times
      n = times.count(x => x >= t - windowUs && x <= t).toLong
      if n >= 3
    } yield (u, t, n)).sortBy(a => (a._1, a._2))
    assert(got == ref)
    assert(got.nonEmpty)
    // cross-batch state: the harness slices [min, max] into 4 equal
    // ranges; some alert must count contributors from an earlier slice
    val mn = clicks.map(_._2).min; val mx = clicks.map(_._2).max
    val step = math.max((mx - mn) / 4 + 1, 1L)
    val bounds = (1 to 3).map(i => mn + i * step)
    val spanning = got.exists { case (u, t, _) =>
      bounds.exists(b => t >= b && t - windowUs < b &&
        byUser(u).exists(x => x < b && x >= t - windowUs))
    }
    assert(spanning, "no alert window spans a batch boundary")
  }

  test("geofence (kq109): streamed ENTER/EXIT equal the batch lag rule; " +
      "some transition's previous fix sits in an EARLIER micro-batch") {
    val got = graft.streaming.StreamPipeline.geofenceAlerts(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    // batch reference: per-user (us, event_id)-ordered side transitions,
    // first sighting vs OUTSIDE
    val fixes = graft.query.Geo.eventFenceFrame(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("inside"))
      .as[(Long, Long, Long, Boolean)].collect()
    val byUser = fixes.groupBy(_._1)
    val ref = byUser.toSeq.flatMap { case (u, fs) =>
      val ordered = fs.sortBy(f => (f._2, f._3))
      ordered.zip(false +: ordered.map(_._4).init).collect {
        case ((_, us, id, in), prev) if in != prev =>
          (u, us, id, if (in) "ENTER" else "EXIT")
      }
    }.sortBy(a => (a._1, a._2, a._3))
    assert(got == ref)
    assert(got.exists(_._4 == "ENTER") && got.exists(_._4 == "EXIT"))
    // cross-batch state: some transition's immediately-previous fix
    // falls in an earlier harness slice
    val mn = fixes.map(_._2).min; val mx = fixes.map(_._2).max
    val step = math.max((mx - mn) / 4 + 1, 1L)
    def slice(us: Long): Long = (us - mn) / step
    val spanning = got.exists { case (u, us, id, _) =>
      val ordered = byUser(u).sortBy(f => (f._2, f._3))
      val i = ordered.indexWhere(f => f._2 == us && f._3 == id)
      i > 0 && slice(ordered(i - 1)._2) < slice(us)
    }
    assert(spanning, "no transition crossed a micro-batch boundary")
  }

  test("chained stateful ops (dedup -> window): planted replays collapse " +
      "before the window counts them; tail rule is kq44's") {
    val env = Pipeline.envelopeFlat(spark, sf)
    val got = graft.streaming.StreamPipeline
      .streamDedupThenWindow(spark, env)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2))).toSeq
    // batch reference over DISTINCT (type, payload, ts) triples
    val rowsWithOffset = env.where(col("event_type").isNotNull)
      .select(col("event_type"),
        coalesce(col("value_json"), lit("__null_payload__")),
        unix_micros(col("timestamp")), col("offset"))
      .as[(String, String, Long, Long)].collect()
    val rows = rowsWithOffset.map(r => (r._1, r._2, r._3))
    val distinctTriples = rows.distinct
    // the harness genuinely replanted copies: every 3rd offset was sent
    // twice, so without dedup the emitted totals would exceed the
    // distinct-triple totals by exactly the planted count
    assert(rowsWithOffset.count(_._4 % 3 == 0) > 0)
    val wmMs = rows.map(_._3).max / 1000 - 3600000L
    val ref = distinctTriples
      .map { case (t, _, us) => ((us / 1000000 / 21600) * 21600000, t) }
      .groupBy(identity).view.mapValues(_.length.toLong)
      .filter { case ((bucketMs, _), _) => bucketMs + 21600000 <= wmMs }
      .map { case ((b, t), n) => (b, t, n) }.toSeq
      .sortBy(r => (r._1, r._2))
    assert(got == ref)
    // dedup genuinely removed rows: some window holds a %3 offset whose
    // replay would otherwise double-count
    assert(got.map(_._3).sum == distinctTriples.count { case (_, _, us) =>
      (us / 1000000 / 21600) * 21600000 + 21600000 <= wmMs })
  }

  test("state-store audit (kq74): the checkpoint read back as a table " +
      "equals the batch aggregate, key for key") {
    import spark.implicits._
    val envFlat = Pipeline.envelopeFlat(spark, sf)
    val got = graft.streaming.StreamPipeline.stateAuditBatch(spark, envFlat)
      .as[(String, Long, Long)].collect().toSeq
    val want = envFlat
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNotNull,
          (col("value").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)").cast("long")).otherwise(0L)).as("cents"))
      .orderBy(col("key"))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.map(_._2).sum == envFlat.count())
  }

  test("map state (kq83): the per-(key, type) fixpoint equals the batch " +
      "group-by and covers every non-tombstone row") {
    import spark.implicits._
    val envFlat = Pipeline.envelopeFlat(spark, sf)
    val got = graft.streaming.StreamPipeline
      .mapStateCountsBatch(spark, envFlat)
      .as[(String, String, Long)].collect().toSeq
    val want = envFlat.where(col("event_type").isNotNull)
      .groupBy(col("key"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("key"), col("event_type"))
      .as[(String, String, Long)].collect().toSeq
    assert(got == want)
    assert(got.map(_._3).sum ==
      envFlat.where(col("event_type").isNotNull).count())
    // the map is genuinely multi-entry: some key has several types
    assert(got.groupBy(_._1).values.exists(_.size > 1))
  }

  test("streaming percolator (kq106): per-micro-batch match sets pinned, " +
      "the cross-batch throttle chain equals the global greedy chain, " +
      "and an exact last+period tie straddling a batch boundary EMITS") {
    val base = 1700000000000000L // us
    def us(s: Long) = s * 1000000L + base
    // (eid, seconds, type, value) — slices cut at (39e6/4+1)-wide steps:
    // batch0 = {0,5}, batch1 = {10,12,19}, batch2 = {21,25}, batch3 = {39}
    val evs = Seq(
      (1L, 0L, "a", 1.0),  // q1: chain start -> emit          (batch 0)
      (2L, 5L, "a", 1.0),  // q1: 5 < 0+10 -> skip             (batch 0)
      (3L, 10L, "a", 1.0), // q1: EXACT tie 10 == 0+10 -> EMIT (batch 1,
                           //     seeded from batch 0's carried tail)
      (4L, 12L, "b", 9.0), // q2: chain start -> emit          (batch 1)
      (5L, 19L, "a", 1.0), // q1: 19 < 20 -> skip              (batch 1)
      (6L, 21L, "a", 1.0), // q1: 21 >= 20 -> emit             (batch 2)
      (7L, 25L, "b", 9.0), // q2: 25 >= 22 -> emit             (batch 2)
      (8L, 39L, "a", 1.0)) // q1: 39 >= 31 -> emit             (batch 3)
    val env = evs.toDF("eid", "s", "event_type", "value")
      .select(concat(lit("u"), col("eid")).as("uid"),
        expr(s"timestamp_micros(s * 1000000 + ${base}L)").as("timestamp"),
        col("event_type"), col("value"), lit("{}").as("value_json"))
    val batches = scala.collection.mutable.Buffer[(Long, Long)]()
    val syncs = scala.collection.mutable.Buffer[(Long, Long)]()
    val got = StreamPipeline.percolateStream(spark, env,
        Seq(1 -> (col("event_type") === "a"), 2 -> (col("value") >= 5)),
        periodUs = 10000000L,
        onBatch = (id, n) => batches.synchronized { batches += ((id, n)) },
        onSync = (id, n) => syncs.synchronized { syncs += ((id, n)) })
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // four micro-batches, each with exactly its slice's match count
    assert(batches.sortBy(_._1).toSeq == Seq((0L, 2L), (1L, 3L),
      (2L, 2L), (3L, 1L)), s"per-batch match sets: $batches")
    assert(got == Seq((1, us(0)), (1, us(10)), (1, us(21)), (1, us(39)),
      (2, us(12)), (2, us(25))))
    // the chain-tail sync is BATCH-BOUNDED: each batch's sync aggregates
    // exactly that batch's EMITTED rows (1,2,2,1 here — NOT the
    // cumulative history 1,3,5,6 a full outDir re-read would show), and
    // the per-batch sync inputs sum to the total alert count
    assert(syncs.sortBy(_._1).toSeq == Seq((0L, 1L), (1L, 2L),
      (2L, 2L), (3L, 1L)), s"per-batch tail-sync inputs: $syncs")
    assert(syncs.map(_._2).sum == got.size.toLong)
  }

  test("composed streaming pipeline (kq112): streamed alerts equal the " +
      "batch gate->match->chain replay, and every micro-batch plans as " +
      "ONE query — a single source scan with the quality gate and the " +
      "percolation verdicts fused into it, no intermediate " +
      "materialization") {
    import graft.streaming.StreamPipeline
    val batches = scala.collection.mutable.Buffer[(Long, Long)]()
    var plan: String = ""
    val got = StreamPipeline.composedPipeline(spark, sf,
        onBatch = (id, n) => batches.synchronized { batches += ((id, n)) },
        onPlan = p => plan = p)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // independent batch replay of the same chain
    val gatedEnv = Pipeline.envelopeFlat(spark, sf)
      .where(graft.functions.HashedLinearScore
        .hashedLinearScore(col("value_json")) > 0)
    val want = StreamPipeline.storedQueries.flatMap { case (id, p) =>
      val ms = gatedEnv.where(p)
        .select(unix_micros(col("timestamp")))
        .as[Long].collect().sorted
      val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
      var last = Long.MinValue
      for (us <- ms) if (last == Long.MinValue ||
          us >= last + 21600000000L) { kept += us; last = us }
      kept.map(us => (id, us))
    }.sorted
    assert(got == want)
    assert(got.nonEmpty)
    // four micro-batches ran (the throttle chain genuinely crossed
    // batch boundaries), and the micro-batch executes as ONE fused
    // plan: exactly one file-source scan with the native gate
    // expression and the verdict explode in the SAME plan — nothing
    // was materialized between the pipeline's stages
    assert(batches.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L, 3L),
      s"batches: ${batches.map(_._1)}")
    val scans = "FileScan".r.findAllIn(plan).length
    assert(scans == 1,
      s"expected ONE scan in the micro-batch plan, got $scans:\n" +
        plan.take(3000))
    val low = plan.toLowerCase
    assert(low.contains("hashed_linear_score"),
      s"micro-batch plan lacks the fused quality gate:\n${plan.take(3000)}")
    assert(low.contains("explode") || low.contains("generate"),
      s"micro-batch plan lacks the fused percolation:\n${plan.take(3000)}")
  }
}
