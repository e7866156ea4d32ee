package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.sink.ChangelogSink

/** A local filesystem whose renames can be made to FAIL (return false,
  * as HDFS does) in either of the staged swap's phases — hide-original,
  * or move-staged AFTER some moves already landed (the partial-swap
  * window where a bad rollback would leave duplicates) — and in the
  * rollback's un-move of a staged file back into its staging dir.
  * Instantiated by Hadoop via reflection (`fs.flaky.impl`). */
class FlakyRenameFs extends RawLocalFileSystem {
  override def getScheme: String = "flaky"
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  /** True only for the SWAP moves out of a committed staging dir — not
    * Spark's own committer renames, whose sources live under a
    * `_temporary` ancestor inside the same staging tree. */
  private def underStaging(p: HPath): Boolean = {
    var cur = p.getParent
    while (cur != null) {
      val n = cur.getName
      if (n == "_temporary") return false
      if (n.startsWith(".compact-") || n.startsWith(".forget-")) return true
      cur = cur.getParent
    }
    false
  }
  override def rename(src: HPath, dst: HPath): Boolean =
    if (FlakyRenameFs.onFirstHide != null &&
        dst.getName.startsWith(".forgetting-")) {
      // fire the concurrent-append injection ONCE, strictly between the
      // erasure's snapshot listing and its first swap rename, then let
      // the rename proceed normally
      val cb = FlakyRenameFs.onFirstHide
      FlakyRenameFs.onFirstHide = null
      cb(this, src)
      super.rename(src, dst)
    } else if (FlakyRenameFs.failHides &&
        (dst.getName.startsWith(".compacting-") ||
          dst.getName.startsWith(".forgetting-")))
      false
    else if (FlakyRenameFs.failUnmoves && src.getName.startsWith("part-") &&
        !src.toUri.getPath.contains("/_temporary/") && !underStaging(src) &&
        underStaging(dst)) {
      FlakyRenameFs.unmovesFailed.incrementAndGet()
      false
    } else if (FlakyRenameFs.failMovesAfter >= 0 &&
        dst.getName.startsWith("part-") && underStaging(src) &&
        FlakyRenameFs.movesSeen.getAndIncrement() >=
          FlakyRenameFs.failMovesAfter)
      false
    else super.rename(src, dst)
}

/** OBJECT-STORE rename semantics (S3A/GCS connector model): rename is
  * copy-then-delete — O(bytes), non-atomic — and NEVER overwrites an
  * existing destination (returns false, like the connectors). Used to
  * prove the staged swaps' documented degradation on object stores
  * (ChangelogSink.CommitOps): converge where destination-exists implies
  * fully-copied, refuse loudly where finishing would require trusting an
  * unverifiable copy. */
class ObjectStoreFs extends RawLocalFileSystem {
  override def getScheme: String = "objstore"
  override def getUri: java.net.URI = java.net.URI.create("objstore:///")
  override def rename(src: HPath, dst: HPath): Boolean = {
    if (exists(dst)) return false
    org.apache.hadoop.fs.FileUtil.copy(this, src, this, dst,
      true /* delete source */, getConf)
  }
  /** A delete that fails SILENTLY (returns false, file stays — the
    * HDFS-contract failure mode) for one named file: exercises
    * CommitOps.renameOrFinish's loud-failure path. */
  override def delete(p: HPath, recursive: Boolean): Boolean =
    if (ObjectStoreFs.failDeleteOf != null &&
        p.getName == ObjectStoreFs.failDeleteOf) false
    else super.delete(p, recursive)
}

object ObjectStoreFs {
  @volatile var failDeleteOf: String = null
}

object FlakyRenameFs {
  @volatile var failHides = false
  @volatile var failMovesAfter = -1 // -1 = off; N = fail the (N+1)th move
  val movesSeen = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Fail every rename of a partition file back into a staging dir (a
    * rollback's un-move), counting them in `unmovesFailed`; Spark's own
    * committer renames (`_temporary` sources) are exempt. */
  @volatile var failUnmoves = false
  val unmovesFailed = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Runs once, just before the first hide-original rename of an
    * erasure swap — the window where a concurrent append can land
    * between the snapshot listing and the swap. Receives (fs, src of
    * the hide rename). */
  @volatile var onFirstHide: (RawLocalFileSystem, HPath) => Unit = null
}

class ChangelogSinkSpec extends SparkSpec {
  import spark.implicits._

  /** `env` appended as `n` disjoint slices (by offset mod `n`): each
    * (topic, date) partition gets up to `n` files of distinct uids. */
  private def appendSlices(env: org.apache.spark.sql.DataFrame, dir: String,
      n: Int): Unit =
    (0 until n).foreach(i =>
      ChangelogSink.append(env.where(pmod($"offset", lit(n)) === i), dir))

  test("append + read round-trips; partitioned by topic/date; retention drops") {
    val dir = Files.createTempDirectory("changelog").toString
    val env = Pipeline.envelope(spark, sf)
    ChangelogSink.append(env, dir)

    val back = ChangelogSink.read(spark, dir)
    assert(back.count() == env.count())
    // partition layout on disk: topic=events/date=...
    val topicDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(topicDirs.contains("topic=events"))

    // append again: a replayed batch stores no second copy of any uid
    ChangelogSink.append(env, dir)
    val doubled = ChangelogSink.read(spark, dir)
    assert(doubled.count() == env.count())
    assert(doubled.dropDuplicates("uid").count() == env.count())
    assertUidsUnique(dir)

    // retention: drop everything before the max date -> only maxdate remains
    val maxDate = back.agg(max(to_date($"timestamp"))).as[java.sql.Date].head().toString
    val dropped = ChangelogSink.dropPartitionsBefore(spark, dir, maxDate)
    assert(dropped > 0)
    val kept = ChangelogSink.read(spark, dir)
    assert(kept.agg(min(to_date($"timestamp"))).as[java.sql.Date].head().toString == maxDate)
  }

  test("partition pruning: a topic+date predicate reaches the scan as " +
      "partition filters and prunes to exactly the matching partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Files.createTempDirectory("changelog-prune").toString
    val env = Pipeline.envelope(spark, sf)
    ChangelogSink.append(env, dir)
    val dates = ChangelogSink.read(spark, dir)
      .select(date_format(to_date($"timestamp"), "yyyy-MM-dd"))
      .distinct().as[String].collect().sorted
    assert(dates.length > 1) // pruning must have something to prune
    val oneDate = dates.head
    val q = ChangelogSink.read(spark, dir)
      .where($"topic" === "events" && $"date" === oneDate)
    q.collect() // materialize the exact inspected plan
    def scanOf(p: org.apache.spark.sql.execution.SparkPlan)
        : FileSourceScanExec = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scanOf(a.executedPlan)
      case other =>
        other.collectFirst { case f: FileSourceScanExec => f }.get
    }
    val scan = scanOf(q.queryExecution.executedPlan)
    // the predicate became PARTITION filters (directory-level pruning),
    // not data filters evaluated per row
    assert(scan.partitionFilters.nonEmpty)
    // and only the ONE matching (topic, date) partition is scanned
    assert(scan.selectedPartitions.partitionCount == 1)
    val total = new java.io.File(dir, "topic=events").listFiles()
      .count(_.getName.startsWith("date="))
    assert(total == dates.length) // the unscanned partitions exist on disk
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("observed append: the write job itself reports the ingest audit " +
      "(rows, tombstones, event-time bounds) — no second scan") {
    val dir = Files.createTempDirectory("changelog-obs").toString
    val env = Pipeline.envelope(spark, sf)
    val metrics = ChangelogSink.appendObserved(env, dir)
    assert(metrics("n_rows") == env.count())
    assert(metrics("n_tombstones") ==
      env.where($"message.value_json" === "TOMBSTONE").count())
    val (lo, hi) = (metrics("min_ts").asInstanceOf[java.sql.Timestamp],
      metrics("max_ts").asInstanceOf[java.sql.Timestamp])
    assert(!lo.after(hi))
    // the write really landed, row-identical
    assert(ChangelogSink.read(spark, dir).count() == env.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("compaction: many small appended files collapse to the target " +
      "count, content identical, re-run is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("sink-compact").toString
    val env = Pipeline.envelope(spark, sf)
    // 5 disjoint appends = at least 5 files per (topic, date) partition
    appendSlices(env, dir, 5)
    val before = ChangelogSink.read(spark, dir)
    val beforeRows = before.collect().toSet
    val date = before.agg(max(to_date($"timestamp")))
      .as[java.sql.Date].head().toString
    val partDir = new java.io.File(s"$dir/topic=events/date=$date")
    val filesBefore = partDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesBefore >= 5, s"expected >=5 small files, got $filesBefore")

    val n = ChangelogSink.compactPartition(spark, dir, "events", date)
    val filesAfter = partDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter == n && filesAfter < filesBefore,
      s"files $filesBefore -> $filesAfter (n=$n)")
    // content is byte-for-row identical across the whole table
    assert(ChangelogSink.read(spark, dir).collect().toSet == beforeRows)
    // idempotent: a second run keeps the file count
    assert(ChangelogSink.compactPartition(spark, dir, "events", date) == filesAfter)
  }

  test("compaction failure mid-swap: checked renames abort, originals " +
      "restored, no data loss, retry succeeds") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val dir = "flaky:" +
      java.nio.file.Files.createTempDirectory("sink-crash").toString
    val env = Pipeline.envelope(spark, sf)
    appendSlices(env, dir, 3)
    val beforeRows = ChangelogSink.read(spark, dir).collect().toSet
    val date = ChangelogSink.read(spark, dir)
      .agg(max(to_date($"timestamp"))).as[java.sql.Date].head().toString

    FlakyRenameFs.failHides = true
    try {
      val e = intercept[IllegalStateException](
        ChangelogSink.compactPartition(spark, dir, "events", date))
      assert(e.getMessage.contains("hide-original"), e.getMessage)
    } finally FlakyRenameFs.failHides = false

    // the failed run must leave the partition fully readable (hidden
    // originals rolled back) and no dot-garbage among the data files
    assert(ChangelogSink.read(spark, dir).collect().toSet == beforeRows)
    val partDir = new java.io.File(
      s"${dir.stripPrefix("flaky:")}/topic=events/date=$date")
    assert(!partDir.listFiles().exists(_.getName.startsWith(".compacting-")))
    // staged output was left intact for inspection/retry
    assert(new java.io.File(dir.stripPrefix("flaky:")).listFiles()
      .exists(_.getName.startsWith(".compact-")))
    // a clean retry compacts normally with identical content
    val n = ChangelogSink.compactPartition(spark, dir, "events", date)
    assert(n >= 1 &&
      ChangelogSink.read(spark, dir).collect().toSet == beforeRows)
  }

  test("compaction failure MID move-staged: already-moved staged files " +
      "rolled back before originals restored — no duplicate rows, retry " +
      "does not bake in a partial copy") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val dir = "flaky:" +
      java.nio.file.Files.createTempDirectory("sink-midswap").toString
    val env = Pipeline.envelope(spark, sf)
    appendSlices(env, dir, 4)
    val before = ChangelogSink.read(spark, dir).collect()
    val date = ChangelogSink.read(spark, dir)
      .agg(max(to_date($"timestamp"))).as[java.sql.Date].head().toString
    // target sized so the rewrite stages TWO files (a single staged file
    // has no partial-swap window to inject into)
    val partBytes = new java.io.File(
      s"${dir.stripPrefix("flaky:")}/topic=events/date=$date")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = partBytes / 2 + 1

    // first staged move succeeds, second fails → the partial-swap window
    FlakyRenameFs.movesSeen.set(0)
    FlakyRenameFs.failMovesAfter = 1
    try {
      val e = intercept[IllegalStateException](
        ChangelogSink.compactPartition(spark, dir, "events", date, target))
      assert(e.getMessage.contains("move-staged"), e.getMessage)
    } finally FlakyRenameFs.failMovesAfter = -1

    // EXACT pre-swap state: same row multiset (a bad rollback that left
    // originals + a partial compacted copy would inflate the count)
    val after = ChangelogSink.read(spark, dir).collect()
    assert(after.length == before.length,
      s"rows ${before.length} -> ${after.length}: partial swap left behind")
    assert(after.toSet == before.toSet)
    val partDir = new java.io.File(
      s"${dir.stripPrefix("flaky:")}/topic=events/date=$date")
    assert(!partDir.listFiles().exists(_.getName.startsWith(".compacting-")))
    // retry snapshots only the restored originals → still identical rows
    val n = ChangelogSink.compactPartition(spark, dir, "events", date, target)
    val retried = ChangelogSink.read(spark, dir).collect()
    assert(n == 2 && retried.length == before.length &&
      retried.toSet == before.toSet)
  }

  test("rollIfNeeded: age condition drops old partitions, size condition " +
      "compacts fragmented ones, second sweep is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("sink-roll").toString
    val env = Pipeline.envelope(spark, sf)
    appendSlices(env, dir, 4)
    val all = ChangelogSink.read(spark, dir)
    val maxDate = all.agg(max(to_date($"timestamp")))
      .as[java.sql.Date].head().toString
    val datesBefore = new java.io.File(s"$dir/topic=events").listFiles()
      .count(_.getName.startsWith("date="))
    assert(datesBefore > 1, "fixture should span multiple dates")

    val (dropped, compacted) = ChangelogSink.rollIfNeeded(spark, dir, maxDate)
    assert(dropped == datesBefore - 1, s"dropped $dropped of $datesBefore")
    assert(compacted == 1, s"compacted $compacted partitions")
    val partDir = new java.io.File(s"$dir/topic=events/date=$maxDate")
    assert(partDir.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // surviving rows = exactly the max-date slice
    val kept = ChangelogSink.read(spark, dir)
    assert(kept.agg(min(to_date($"timestamp")))
      .as[java.sql.Date].head().toString == maxDate)
    // idempotent: nothing left to drop or compact
    assert(ChangelogSink.rollIfNeeded(spark, dir, maxDate) == ((0, 0)))
  }

  test("forgetKey: the subject's rows vanish, everyone else's survive " +
      "exactly, untouched partitions keep their files, retry is a no-op") {
    val dir = Files.createTempDirectory("changelog-forget").toString
    val env = Pipeline.envelopeFlat(spark, sf)
    ChangelogSink.append(env, dir)
    val beforeByKey = ChangelogSink.read(spark, dir)
      .groupBy($"key").count().as[(String, Long)].collect().toMap
    // snapshot the files of a partition the key does NOT touch
    val root = new java.io.File(s"$dir/topic=events")
    val keyDates = ChangelogSink.read(spark, dir)
      .where($"key" === "13").select($"date".cast("string"))
      .distinct().as[String].collect().toSet
    val untouchedDir = root.listFiles().filter(_.isDirectory)
      .find(d => !keyDates.contains(d.getName.stripPrefix("date=")))
    val untouchedBefore = untouchedDir.map(
      _.listFiles().map(f => (f.getName, f.lastModified())).toSet)

    val audit = ChangelogSink.forgetKey(spark, dir, "13").collect()
    assert(audit.nonEmpty)
    assert(audit.forall(r => r.getAs[Long]("rows_after") ==
      r.getAs[Long]("rows_before") - r.getAs[Long]("rows_deleted")))
    val after = ChangelogSink.read(spark, dir)
    assert(after.where($"key" === "13").count() == 0)
    val afterByKey = after.groupBy($"key").count()
      .as[(String, Long)].collect().toMap
    assert(afterByKey == (beforeByKey - "13"))
    // non-hit partitions were never rewritten
    untouchedBefore.foreach { files =>
      assert(untouchedDir.get.listFiles()
        .map(f => (f.getName, f.lastModified())).toSet == files)
    }
    // retry: nothing contains the key anymore → empty audit, no change
    assert(ChangelogSink.forgetKey(spark, dir, "13").count() == 0)
    assert(ChangelogSink.read(spark, dir).count() == after.count())
  }

  test("forgetKey: constant Spark-job count regardless of hit-partition " +
      "count, and a fully-erased partition's directory is removed") {
    val dir = Files.createTempDirectory("changelog-forget-jobs").toString
    // subject 'S' spread over MANY partitions (8 topics x 4 dates = 32),
    // one partition holding ONLY the subject's rows
    val rows = for {
      t <- 0 until 8; d <- 1 to 4; i <- 0 until 3
      k = if (t == 0 && d == 1) "S" // topic0/day1 is 100% the subject
          else if (i == 0) "S" else s"other-$i"
    } yield (s"topic$t", s"k$i-u$t-$d-$i", k,
      java.sql.Timestamp.valueOf(f"2024-03-0$d 12:00:0$i"))
    val env = rows.toDF("topic", "uid", "key", "timestamp")
    ChangelogSink.append(env, dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val audit = try {
      val a = ChangelogSink.forgetKey(spark, dir, "S").collect()
      // listener events are async: wait until the count is stable
      var last = -1
      var stableFor = 0
      while (stableFor < 4) { // 4 x 250ms with no new events
        Thread.sleep(250)
        if (jobs.get() == last) stableFor += 1
        else { last = jobs.get(); stableFor = 0 }
      }
      a
    } finally spark.sparkContext.removeSparkListener(listener)
    // 32 hit partitions, but erasure is discovery + before-count + one
    // staged write + the audit collect — NOT a job per partition (the
    // round-11 flag). AQE runs each shuffle stage as its own job, so the
    // two aggregating collects are 2 jobs each; bound at 10 (< 32) with
    // headroom, the point being CONSTANT in partition count.
    assert(jobs.get() <= 10, s"forgetKey ran ${jobs.get()} jobs for 32 " +
      "hit partitions — the per-partition driver loop is back")
    assert(audit.length == 32)
    // the all-subject partition is GONE (not an empty dir / stale files)
    assert(!new java.io.File(s"$dir/topic=topic0/date=2024-03-01").exists())
    val full = audit.find(r => r.getString(0) == "topic0" &&
      r.getString(1) == "2024-03-01").get
    assert(full.getAs[Long]("rows_after") == 0L)
    // everyone else intact, subject gone everywhere
    val after = ChangelogSink.read(spark, dir)
    assert(after.where($"key" === "S").count() == 0)
    assert(after.count() == rows.count(_._3 != "S"))
    // retry is a no-op even with the dropped directory
    assert(ChangelogSink.forgetKey(spark, dir, "S").count() == 0)
  }

  test("forgetKeys: a subject batch erases in one pass — per-subject " +
      "receipts, shared partitions rewritten once, null keys survive") {
    val dir = Files.createTempDirectory("changelog-forget-batch").toString
    val env = Pipeline.envelopeFlat(spark, sf)
    ChangelogSink.append(env, dir)
    val before = ChangelogSink.read(spark, dir)
    val beforeN = before.count()
    val subjects = Seq("7", "13", "21")
    val expectDel = before.where($"key".isin(subjects: _*)).count()
    val nullsBefore = before.where($"key".isNull).count()
    val receipts = ChangelogSink.forgetKeys(spark, dir, subjects).collect()
    // one receipt row per (subject, hit partition); per-partition totals
    // consistent on every row of that partition
    assert(receipts.map(_.getString(0)).toSet.subsetOf(subjects.toSet))
    assert(receipts.map(_.getAs[Long]("rows_deleted")).sum == expectDel)
    receipts.groupBy(r => (r.getString(1), r.getString(2))).foreach {
      case (_, rows) =>
        assert(rows.map(r => (r.getAs[Long]("part_rows_before"),
          r.getAs[Long]("part_rows_after"))).toSet.size == 1)
        val del = rows.map(_.getAs[Long]("rows_deleted")).sum
        assert(rows.head.getAs[Long]("part_rows_before") - del ==
          rows.head.getAs[Long]("part_rows_after"))
    }
    val after = ChangelogSink.read(spark, dir)
    assert(after.where($"key".isin(subjects: _*)).count() == 0)
    assert(after.count() == beforeN - expectDel)
    // NULL keys are never a subject (isin() is null for them)
    assert(after.where($"key".isNull).count() == nullsBefore)
    // retry: empty receipts, no change
    assert(ChangelogSink.forgetKeys(spark, dir, subjects).count() == 0)
  }

  test("erasure failure mid-swap: the failing partition rolls back " +
      "(no loss, no duplicates, per-partition atomicity), retry " +
      "finishes the erasure") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val dir = "flaky:" +
      Files.createTempDirectory("forget-crash").toString
    val env = Pipeline.envelopeFlat(spark, sf)
    ChangelogSink.append(env, dir)
    val original = ChangelogSink.read(spark, dir)
      .drop("date").collect().toSet
    val subjectRows = original.filter(r => r.getAs[String]("key") == "13")
    assert(subjectRows.nonEmpty)

    // fail the SECOND staged move overall: some partitions commit, one
    // rolls back mid-move — the per-partition atomicity window
    FlakyRenameFs.movesSeen.set(0)
    FlakyRenameFs.failMovesAfter = 1
    try {
      val e = intercept[IllegalStateException](
        ChangelogSink.forgetKey(spark, dir, "13"))
      assert(e.getMessage.contains("move-staged"), e.getMessage)
    } finally FlakyRenameFs.failMovesAfter = -1

    val mid = ChangelogSink.read(spark, dir).drop("date").collect().toSeq
    // NO duplicates (a bad rollback would leave original + staged copy)
    assert(mid.size == mid.toSet.size)
    // every surviving row is an original row…
    assert(mid.toSet.subsetOf(original))
    // …and nothing non-subject was lost anywhere
    assert((original -- subjectRows).subsetOf(mid.toSet))
    // committed-then-failed is legal: only subject rows may be missing
    assert((original -- mid.toSet).subsetOf(subjectRows))

    // retry (clean fs) erases the remainder; receipts only for the
    // partitions that still held the subject
    val retryAudit = ChangelogSink.forgetKey(spark, dir, "13").collect()
    assert(retryAudit.nonEmpty)
    val fin = ChangelogSink.read(spark, dir).drop("date").collect().toSet
    assert(fin == original -- subjectRows)
  }

  test("a rollback whose un-move fails deletes the staged copy: erasure " +
      "and compaction leave the failed partition's pre-swap rows, no " +
      "duplicates, and recovery does not roll it forward without the copy") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val local = Files.createTempDirectory("unmove").toString
    val dir = "flaky:" + local
    // four disjoint appends: every date partition holds distinct rows in
    // four files, so each swap stages several files
    appendSlices(Pipeline.envelopeFlat(spark, sf), dir, 4)
    // partition content through plain file: paths (parquet data is never
    // read through the test scheme)
    def rows(date: String): Seq[String] =
      spark.read.parquet(s"file:$local/topic=events/date=$date")
        .collect().map(_.toString).toSeq.sorted
    def failingMove(date: String)(swap: => Any): Seq[String] = {
      val before = rows(date)
      assert(before.distinct == before)
      FlakyRenameFs.movesSeen.set(0)
      FlakyRenameFs.unmovesFailed.set(0)
      // the second staged move fails, so the rollback un-moves the first
      FlakyRenameFs.failMovesAfter = 1
      FlakyRenameFs.failUnmoves = true
      try {
        val e = intercept[IllegalStateException](swap)
        assert(e.getMessage.contains("move-staged"), e.getMessage)
      } finally {
        FlakyRenameFs.failMovesAfter = -1
        FlakyRenameFs.failUnmoves = false
      }
      assert(FlakyRenameFs.unmovesFailed.get() >= 1,
        "the swap failed before any staged file moved in")
      val after = rows(date)
      val dups = after.diff(after.distinct)
      assert(dups.isEmpty, s"${dups.size} duplicate rows in date=$date")
      assert(after == before)
      after
    }
    // erasure swaps hit partitions in date order: the first one fails
    val firstHit = ChangelogSink.read(spark, dir).where($"key" === "13")
      .agg(min($"date").cast("string")).as[String].head()
    def recovered(date: String, kept: Seq[String]): Unit = {
      ChangelogSink.recoverStaging(spark, dir)
      assert(rows(date) == kept,
        s"recovery rolled date=$date forward without the deleted copy")
    }
    recovered(firstHit,
      failingMove(firstHit)(ChangelogSink.forgetKey(spark, dir, "13")))
    val date = ChangelogSink.read(spark, dir)
      .agg(max($"date").cast("string")).as[String].head()
    val partBytes = new java.io.File(s"$local/topic=events/date=$date")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    recovered(date, failingMove(date)(ChangelogSink.compactPartition(
      spark, dir, "events", date, partBytes / 2 + 1)))
  }

  test("erasure pins the file snapshot: a file appended to a hit " +
      "partition between snapshot and swap SURVIVES (visible " +
      "non-erasure, never silent loss), and a retry erases its rows") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val dir = "flaky:" +
      Files.createTempDirectory("forget-append").toString
    val env = Pipeline.envelopeFlat(spark, sf)
    ChangelogSink.append(env, dir)
    val before = ChangelogSink.read(spark, dir)
    val beforeCount = before.count()
    val subj13 = before.where($"key" === "13").count()
    assert(subj13 > 0)

    // inject a concurrent append: just before the first hide rename,
    // copy the to-be-hidden file back in under a fresh part- name —
    // exactly a file that landed AFTER the erasure's snapshot listing
    @volatile var appended: HPath = null
    FlakyRenameFs.onFirstHide = (fs, src) => {
      val dst = new HPath(src.getParent, "part-post-append.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
        spark.sparkContext.hadoopConfiguration)
      appended = dst
    }
    try ChangelogSink.forgetKey(spark, dir, "13").collect()
    finally FlakyRenameFs.onFirstHide = null
    assert(appended != null, "hook never fired")

    // the appended file was neither read nor swapped: still on disk
    val fs = appended.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(appended), "post-snapshot append was LOST by the swap")
    val copy = spark.read.parquet(appended.toString)
    val copyCount = copy.count()
    val copy13 = copy.where($"key" === "13").count()
    assert(copy13 > 0) // the hit file held subject rows by construction

    // visible non-erasure: exactly the copy's subject rows remain
    val mid = ChangelogSink.read(spark, dir)
    assert(mid.where($"key" === "13").count() == copy13)
    assert(mid.count() == beforeCount - subj13 + copyCount)

    // retry re-discovers the surviving rows and finishes the job
    val retry = ChangelogSink.forgetKey(spark, dir, "13").collect()
    assert(retry.nonEmpty)
    val fin = ChangelogSink.read(spark, dir)
    assert(fin.where($"key" === "13").count() == 0)
    assert(fin.count() == beforeCount - subj13 + copyCount - copy13)
  }

  test("crash-leftover dot-hidden files are data to NEITHER erasure nor " +
      "compaction: never read (no silent drop / no duplicate rows), " +
      "never swapped, byte-identical after both ops") {
    val dir = Files.createTempDirectory("dotfile-leftover").toString
    val env = Pipeline.envelopeFlat(spark, sf)
    appendSlices(env, dir, 2) // second file per partition → compactable
    val before = ChangelogSink.read(spark, dir)
    val beforeCount = before.count()
    val subj = before.where($"key" === "13").count()
    assert(subj > 0)
    // plant what a mid-swap kill leaves: a dot-hidden copy of a real
    // data file in a partition the subject hits. If a listing fed it to
    // spark.read as an explicit path and the swap then hid/deleted it,
    // its rows would vanish without ever being rewritten.
    val hitDate = before.where($"key" === "13")
      .select($"date".cast("string")).orderBy($"date").as[String].head()
    val part = new java.io.File(s"$dir/topic=events/date=$hitDate")
    val dataFile = part.listFiles().filter(f => f.isFile &&
      f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    // the leftover's original is GONE (that's what a post-hide crash
    // leaves) — its name must not collide with any live file's hide
    // target, or the checked rename rightly refuses
    val ghost = new java.io.File(part,
      ".forgetting-part-r13-ghost.c000.snappy.parquet")
    java.nio.file.Files.copy(dataFile.toPath, ghost.toPath)
    val ghostLen = ghost.length()
    val ghostMod = ghost.lastModified()

    ChangelogSink.forgetKeys(spark, dir, Seq("13")).collect()
    assert(ghost.exists(), "erasure swallowed the crash leftover")
    assert(ghost.length() == ghostLen && ghost.lastModified() == ghostMod,
      "erasure rewrote the crash leftover")
    val after = ChangelogSink.read(spark, dir)
    assert(after.where($"key" === "13").count() == 0)
    assert(after.count() == beforeCount - subj,
      "ghost rows leaked into (or vanished from) the erased table")

    // compaction over the same partition: the ghost's rows must not
    // duplicate into the compacted output, and the ghost survives
    val visible = spark.read.parquet(part.toString).count()
    ChangelogSink.compactPartition(spark, dir, "events", hitDate)
    assert(ghost.exists() && ghost.length() == ghostLen &&
      ghost.lastModified() == ghostMod,
      "compaction touched the crash leftover")
    assert(spark.read.parquet(part.toString).count() == visible,
      "compaction duplicated the ghost's rows")
  }

  test("object-store rename (copy-then-delete, no overwrite): recovery " +
      "CONVERGES from a crash in the move-staged window (dst exists = " +
      "fully copied) and REFUSES LOUDLY from a crash in the hide window " +
      "(finishing would trust an unverifiable copy); repair converges") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjectStoreFs].getName)
    import spark.implicits._
    def mkTable(tag: String): (String, Set[org.apache.spark.sql.Row]) = {
      val dir = Files.createTempDirectory(s"objstore-$tag").toString
      for (b <- 0 until 3) // three appends -> three files, one partition
        ChangelogSink.append(Seq((s"T", s"u$b-1", s"k$b",
            java.sql.Timestamp.valueOf("2024-05-01 10:00:00")),
          (s"T", s"u$b-2", s"k$b",
            java.sql.Timestamp.valueOf("2024-05-01 11:00:00")))
          .toDF("topic", "uid", "key", "timestamp"), dir)
      (dir, ChangelogSink.read(spark, dir).drop("date").collect().toSet)
    }
    val rel = "topic=T/date=2024-05-01"
    def origFiles(dir: String) = new java.io.File(dir, rel).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("."))
    // hand-build a committed compaction staging (flat layout + manifest)
    def mkStaging(dir: String, nOut: Int): (java.io.File, Seq[String]) = {
      val staging = new java.io.File(dir, s".compact-T-2024-05-01-7")
      val tmp = Files.createTempDirectory("objstore-stg").toString + "/o"
      spark.read.parquet(origFiles(dir).map(_.getPath).toIndexedSeq: _*)
        .repartition(nOut).write.parquet(tmp)
      staging.mkdirs()
      val staged = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).toSeq
        .map { f =>
          val t = new java.io.File(staging, f.getName)
          java.nio.file.Files.copy(f.toPath, t.toPath); f.getName
        }
      val m = new StringBuilder("L flat\n").append(s"P $rel\n")
      origFiles(dir).foreach(f => m.append(s"O $rel/${f.getName}\n"))
      staged.foreach(n => m.append(s"F $rel/$n\n"))
      java.nio.file.Files.writeString(
        new java.io.File(staging, "_MANIFEST").toPath, m.toString)
      (staging, staged)
    }

    // -- state A: crash in the MOVE-STAGED window -----------------------
    val (dirA, contentA) = mkTable("a")
    val (stagingA, stagedA) = mkStaging(dirA, 2)
    assert(stagedA.size == 2)
    origFiles(dirA).foreach { f => // hide phase completed
      assert(f.renameTo(new java.io.File(f.getParent,
        s".compacting-${f.getName}")))
    }
    // first staged file: copy landed in the partition, staging copy NOT
    // yet deleted (the non-atomic window); second never moved
    java.nio.file.Files.copy(
      new java.io.File(stagingA, stagedA.head).toPath,
      new java.io.File(s"$dirA/$rel", stagedA.head).toPath)
    val (fwd, disc) =
      ChangelogSink.recoverStaging(spark, "objstore:" + dirA)
    assert(fwd == 1 && disc == 0)
    // content assertions read via file: — the recovery ran entirely
    // through the objstore scheme above; parquet DATA reads through the
    // bare test FS are not checksum-coordinated and can be flaky, and
    // prod data reads never go through the swap's commit fs anyway
    val afterA = ChangelogSink.read(spark, dirA)
      .drop("date").collect().toSeq
    assert(afterA.size == afterA.toSet.size) // exactly once
    assert(afterA.toSet == contentA) // nothing lost
    assert(!stagingA.exists())
    assert(!new java.io.File(s"$dirA/$rel").listFiles()
      .exists(_.getName.startsWith(".compacting-")))

    // -- state B: crash in the HIDE window ------------------------------
    val (dirB, contentB) = mkTable("b")
    val (stagingB, _) = mkStaging(dirB, 1)
    val orig0 = origFiles(dirB).head
    java.nio.file.Files.copy(orig0.toPath, // dot-copy landed, original
      new java.io.File(orig0.getParent,    // not yet deleted
        s".compacting-${orig0.getName}").toPath)
    val origNames = origFiles(dirB).map(_.getName).toSet
    val e = intercept[IllegalStateException](
      ChangelogSink.recoverStaging(spark, "objstore:" + dirB))
    assert(e.getMessage.contains("hide-original"), e.getMessage)
    // refused with NO LOSS: recovery may have hidden some originals
    // before hitting the conflicting pair (hidden = dot-renamed, fully
    // recoverable), but every original file still exists under its
    // visible or hidden name, nothing was deleted, and the visible rows
    // are a subset of the table (no staged file moved in before a full
    // hide — hide-all strictly precedes move)
    val namesNow = new java.io.File(s"$dirB/$rel").listFiles()
      .map(_.getName).toSet
    assert(origNames.forall(n =>
      namesNow.contains(n) || namesNow.contains(s".compacting-$n")))
    assert(ChangelogSink.read(spark, dirB)
      .drop("date").collect().toSet.subsetOf(contentB))
    assert(stagingB.exists())
    // operator repair: drop the ambiguous dot-copy -> recovery converges
    assert(new java.io.File(orig0.getParent,
      s".compacting-${orig0.getName}").delete())
    assert(ChangelogSink.recoverStaging(spark, "objstore:" + dirB)
      == ((1, 0)))
    val afterB = ChangelogSink.read(spark, dirB)
      .drop("date").collect().toSeq
    assert(afterB.size == afterB.toSet.size && afterB.toSet == contentB)
    assert(!stagingB.exists())
  }

  test("conditional-put commit posture: the hide-window crash that the " +
      "default posture refuses CONVERGES (visible dst = complete object " +
      "by the store's PUT-if-absent contract); the move window still " +
      "converges; nothing lost, exactly once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjectStoreFs].getName)
    import spark.implicits._
    def mkTable(tag: String): (String, Set[org.apache.spark.sql.Row]) = {
      val dir = Files.createTempDirectory(s"condput-$tag").toString
      for (b <- 0 until 3)
        ChangelogSink.append(Seq((s"T", s"u$b-1", s"k$b",
            java.sql.Timestamp.valueOf("2024-05-01 10:00:00")),
          (s"T", s"u$b-2", s"k$b",
            java.sql.Timestamp.valueOf("2024-05-01 11:00:00")))
          .toDF("topic", "uid", "key", "timestamp"), dir)
      (dir, ChangelogSink.read(spark, dir).drop("date").collect().toSet)
    }
    val rel = "topic=T/date=2024-05-01"
    def origFiles(dir: String) = new java.io.File(dir, rel).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("."))
    def mkStaging(dir: String, nOut: Int): (java.io.File, Seq[String]) = {
      val staging = new java.io.File(dir, s".compact-T-2024-05-01-7")
      val tmp = Files.createTempDirectory("condput-stg").toString + "/o"
      spark.read.parquet(origFiles(dir).map(_.getPath).toIndexedSeq: _*)
        .repartition(nOut).write.parquet(tmp)
      staging.mkdirs()
      val staged = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).toSeq
        .map { f =>
          val t = new java.io.File(staging, f.getName)
          java.nio.file.Files.copy(f.toPath, t.toPath); f.getName
        }
      val m = new StringBuilder("L flat\n").append(s"P $rel\n")
      origFiles(dir).foreach(f => m.append(s"O $rel/${f.getName}\n"))
      staged.foreach(n => m.append(s"F $rel/$n\n"))
      java.nio.file.Files.writeString(
        new java.io.File(staging, "_MANIFEST").toPath, m.toString)
      (staging, staged)
    }

    // hide-window crash: ONE original has a complete dot-copy AND is
    // still visible — the exact pair the default posture refuses on
    val (dir, content) = mkTable("hide")
    val (staging, _) = mkStaging(dir, 1)
    val orig0 = origFiles(dir).head
    java.nio.file.Files.copy(orig0.toPath,
      new java.io.File(orig0.getParent,
        s".compacting-${orig0.getName}").toPath)
    // default posture still refuses (the contract did not silently move)
    val e = intercept[IllegalStateException](
      ChangelogSink.recoverStaging(spark, "objstore:" + dir))
    assert(e.getMessage.contains("hide-original"), e.getMessage)
    // conditional-put posture converges from the SAME state
    assert(ChangelogSink.recoverStaging(spark, "objstore:" + dir,
      conditionalPut = true) == ((1, 0)))
    val after = ChangelogSink.read(spark, dir).drop("date").collect().toSeq
    assert(after.size == after.toSet.size) // exactly once
    assert(after.toSet == content)         // nothing lost
    assert(!staging.exists())
    assert(!new java.io.File(s"$dir/$rel").listFiles()
      .exists(_.getName.startsWith(".compacting-")))

    // move-window crash converges under conditional-put too (same
    // outcome as the default posture's convergence case)
    val (dirM, contentM) = mkTable("move")
    val (stagingM, stagedM) = mkStaging(dirM, 2)
    origFiles(dirM).foreach { f =>
      assert(f.renameTo(new java.io.File(f.getParent,
        s".compacting-${f.getName}")))
    }
    java.nio.file.Files.copy(
      new java.io.File(stagingM, stagedM.head).toPath,
      new java.io.File(s"$dirM/$rel", stagedM.head).toPath)
    assert(ChangelogSink.recoverStaging(spark, "objstore:" + dirM,
      conditionalPut = true) == ((1, 0)))
    val afterM = ChangelogSink.read(spark, dirM).drop("date").collect().toSeq
    assert(afterM.size == afterM.toSet.size && afterM.toSet == contentM)
    assert(!stagingM.exists())

    // finish-delete failing SILENTLY (false, source stays visible) must
    // THROW, not proceed to land staged files beside the live original
    // (that would double the original's rows); the state is repairable —
    // once deletes work again, recovery converges exactly-once
    val (dirF, contentF) = mkTable("faildel")
    val (stagingF, _) = mkStaging(dirF, 1)
    val origF = origFiles(dirF).head
    java.nio.file.Files.copy(origF.toPath,
      new java.io.File(origF.getParent,
        s".compacting-${origF.getName}").toPath)
    ObjectStoreFs.failDeleteOf = origF.getName
    try {
      val eF = intercept[IllegalStateException](
        ChangelogSink.recoverStaging(spark, "objstore:" + dirF,
          conditionalPut = true))
      assert(eF.getMessage.contains("finish-delete failed"), eF.getMessage)
      assert(origF.exists(), "failed finish must leave the original alone")
      assert(stagingF.exists(), "staged files must NOT land after refusal")
    } finally ObjectStoreFs.failDeleteOf = null
    assert(ChangelogSink.recoverStaging(spark, "objstore:" + dirF,
      conditionalPut = true) == ((1, 0)))
    val afterF = ChangelogSink.read(spark, dirF).drop("date").collect().toSeq
    assert(afterF.size == afterF.toSet.size && afterF.toSet == contentF)
    assert(!stagingF.exists())
  }

  test("recoverStaging: HARD crash mid-swap (process kill, no rollback) " +
      "rolls forward from the manifest — hidden originals dropped, " +
      "staged rows landed, fully-erased partition removed; a " +
      "manifest-less staging dir is discarded") {
    val dir = Files.createTempDirectory("forget-hard-crash").toString
    // 3 topics x 2 dates; subject 'S' everywhere; topicF/day1 is ALL 'S'
    val rows = for {
      t <- Seq("topicA", "topicB", "topicF"); d <- 1 to 2; i <- 0 until 4
      k = if (t == "topicF" && d == 1) "S"
          else if (i == 0) "S" else s"u$i"
    } yield (t, s"$t-$d-$i", k,
      java.sql.Timestamp.valueOf(f"2024-04-0$d 08:00:0$i"))
    import spark.implicits._
    ChangelogSink.append(rows.toDF("topic", "uid", "key", "timestamp"), dir)
    val original = ChangelogSink.read(spark, dir)
      .drop("date").collect().toSet
    val expected = original.filter(_.getAs[String]("key") != "S")

    // ---- reproduce the protocol state at the instant of a kill ----
    // staged write of kept rows (hit partitions = all six), + manifest
    val staging = new java.io.File(dir, ".forget-424242")
    ChangelogSink.read(spark, dir).where($"key" =!= "S")
      .write.partitionBy("topic", "date").parquet(staging.toString)
    val partsRel = for (t <- Seq("topicA", "topicB", "topicF"); d <- 1 to 2)
      yield s"topic=$t/date=2024-04-0$d"
    val manifest = new StringBuilder("L nested\n")
    partsRel.foreach(p => manifest.append(s"P $p\n"))
    partsRel.foreach { p =>
      new java.io.File(dir, p).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
        .foreach(f => manifest.append(s"O $p/${f.getName}\n"))
    }
    val stagedFiles = partsRel.flatMap { p =>
      Option(new java.io.File(staging, p).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-"))
        .map(f => (p, f.getName))
    }
    stagedFiles.foreach { case (p, n) => manifest.append(s"F $p/$n\n") }
    java.nio.file.Files.writeString(
      new java.io.File(staging, "_MANIFEST").toPath, manifest.toString)
    def partDir(rel: String) = new java.io.File(dir, rel)
    def hideAll(rel: String): Unit =
      partDir(rel).listFiles().filter(_.getName.endsWith(".parquet"))
        .filterNot(_.getName.startsWith("."))
        .foreach(f => assert(f.renameTo(
          new java.io.File(f.getParent, s".forgetting-${f.getName}"))))
    // partition 1 (topicA/day1): killed MID-MOVE — all hidden, first
    // staged file moved in, the rest still in staging
    hideAll(partsRel.head)
    val (p1, f1) = stagedFiles.find(_._1 == partsRel.head).get
    assert(new java.io.File(staging, s"$p1/$f1")
      .renameTo(new java.io.File(partDir(p1), f1)))
    // partition 2 (topicA/day2): killed MID-HIDE — one original hidden
    val someOrig = partDir(partsRel(1)).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")).head
    assert(someOrig.renameTo(new java.io.File(
      someOrig.getParent, s".forgetting-${someOrig.getName}")))
    // fully-erased partition (topicF/day1): killed after hide-all
    hideAll("topic=topicF/date=2024-04-01")
    // remaining partitions: swap never reached (originals untouched)
    // plus one DEAD staging dir whose write never finished (no manifest)
    val dead = new java.io.File(dir, ".forget-111")
    dead.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dead, "part-junk.parquet").toPath, "junk")
    // and a killed append's staged batch (an append writes no manifest)
    val deadAppend = new java.io.File(dir, ".append-killed")
    val deadAppendPart = new java.io.File(deadAppend, partsRel.head)
    deadAppendPart.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(deadAppendPart, "part-junk.parquet").toPath, "junk")

    val (forward, discardedN) = ChangelogSink.recoverStaging(spark, dir)
    assert(forward == 1 && discardedN == 2)
    // the table is exactly the erased table — no loss, no dupes, no S
    val after = ChangelogSink.read(spark, dir).drop("date").collect().toSeq
    assert(after.size == after.toSet.size)
    assert(after.toSet == expected)
    // fully-erased partition directory is gone; no debris anywhere
    assert(!partDir("topic=topicF/date=2024-04-01").exists())
    assert(!staging.exists() && !dead.exists() && !deadAppend.exists())
    partsRel.filterNot(_ == "topic=topicF/date=2024-04-01").foreach { p =>
      assert(!partDir(p).listFiles().exists(_.getName.startsWith(".forgetting-")))
    }
    // idempotent: nothing left to recover
    assert(ChangelogSink.recoverStaging(spark, dir) == ((0, 0)))
  }

  test("forgetKeys property: for random tables (null keys, absent " +
      "subjects, subject-only partitions) the result is EXACTLY the " +
      "anti-filter and receipts are exactly the per-subject counts") {
    val rnd = new scala.util.Random(4242)
    for (round <- 1 to 6) {
      val dir = Files.createTempDirectory(s"forget-prop-$round").toString
      val keyPool = (0 until rnd.between(3, 9)).map(i => s"k$i")
      val rows = (0 until rnd.between(20, 120)).map { i =>
        val k = if (rnd.nextInt(10) == 0) null
                else keyPool(rnd.nextInt(keyPool.size))
        (s"t${rnd.nextInt(3)}", s"u$round-$i", k,
          java.sql.Timestamp.valueOf(
            f"2024-06-${1 + rnd.nextInt(3)}%02d 10:00:${rnd.nextInt(60)}%02d"))
      }
      import spark.implicits._
      ChangelogSink.append(
        rows.toDF("topic", "uid", "key", "timestamp"), dir)
      // subjects: random subset of the pool + one key that never occurs
      val subjects = rnd.shuffle(keyPool).take(rnd.between(1, 4)) :+ "ghost"
      val receipts = ChangelogSink.forgetKeys(spark, dir, subjects)
        .collect()
      val expectDel = rows.filter(r => r._3 != null &&
        subjects.contains(r._3))
      assert(receipts.map(_.getAs[Long]("rows_deleted")).sum ==
        expectDel.size, s"round $round: receipt sum mismatch")
      // per (key, topic, date) exact counts
      val got = receipts.map(r => ((r.getString(0), r.getString(1),
        r.getString(2)), r.getAs[Long]("rows_deleted"))).toMap
      val want = expectDel.groupBy(r =>
        (r._3, r._1, r._4.toLocalDateTime.toLocalDate.toString))
        .view.mapValues(_.size.toLong).toMap
      assert(got == want, s"round $round: receipts $got != $want")
      val after = ChangelogSink.read(spark, dir)
        .select($"uid").as[String].collect().toSet
      val wantAfter = rows.filterNot(r => r._3 != null &&
        subjects.contains(r._3)).map(_._2).toSet
      assert(after == wantAfter, s"round $round: surviving rows differ")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("recoverStaging: a compaction killed post-hide rolls forward, " +
      "and a file appended AFTER the snapshot survives recovery") {
    val dir = Files.createTempDirectory("compact-hard-crash").toString
    val base = (0 until 6).map(i => ("t1", s"c-$i", s"k$i",
      java.sql.Timestamp.valueOf(f"2024-05-01 09:00:0$i")))
    import spark.implicits._
    // three appends -> >= 3 small files in the partition
    (1 to 3).foreach { r =>
      ChangelogSink.append(base.map { case (t, u, k, ts) =>
        (t, s"$u-$r", k, ts) }.toDF("topic", "uid", "key", "timestamp"),
        dir)
    }
    val rel = "topic=t1/date=2024-05-01"
    val part = new java.io.File(dir, rel)
    val originals = part.listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")).map(_.getName)
    assert(originals.length >= 3)
    val snapshotRows = ChangelogSink.read(spark, dir)
      .drop("date").collect().toSet
    // staged compacted output + flat manifest, exactly as the protocol
    val staging = new java.io.File(dir, ".compact-t1-2024-05-01-77")
    ChangelogSink.read(spark, dir).drop("topic", "date").repartition(1)
      .write.parquet(staging.toString)
    val stagedNames = staging.listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName)
    val m = new StringBuilder("L flat\n").append(s"P $rel\n")
    originals.foreach(n => m.append(s"O $rel/$n\n"))
    stagedNames.foreach(n => m.append(s"F $rel/$n\n"))
    java.nio.file.Files.writeString(
      new java.io.File(staging, "_MANIFEST").toPath, m.toString)
    // kill point: ALL snapshot originals hidden, nothing moved yet
    originals.foreach { n =>
      assert(new java.io.File(part, n).renameTo(
        new java.io.File(part, s".compacting-$n")))
    }
    // a concurrent append lands AFTER the snapshot (and the crash)
    val extra = Seq(("t1", "late-1", "kX",
      java.sql.Timestamp.valueOf("2024-05-01 09:00:59")))
    ChangelogSink.append(
      extra.toDF("topic", "uid", "key", "timestamp"), dir)

    assert(ChangelogSink.recoverStaging(spark, dir) == ((1, 0)))
    val after = ChangelogSink.read(spark, dir).drop("date").collect().toSet
    // compaction is content-neutral; the late append survives intact
    assert(after.size == snapshotRows.size + 1)
    assert(snapshotRows.subsetOf(after))
    assert(after.exists(_.getAs[String]("uid") == "late-1"))
    // file layout: the compacted file(s) + the late append, no debris
    val names = part.listFiles().map(_.getName)
    assert(!names.exists(_.startsWith(".compacting-")))
    assert(stagedNames.forall(names.contains))
    assert(!staging.exists())
  }

  test("the table stores each uid once through replayed appends, erasure " +
      "and compaction") {
    val dir = Files.createTempDirectory("changelog-unique").toString
    val env = Pipeline.envelope(spark, sf)
    val n = env.count()
    appendSlices(env, dir, 3)
    // a replay of the whole batch, then of one slice on its own
    ChangelogSink.append(env, dir)
    ChangelogSink.append(env.where(pmod($"offset", lit(3)) === 1), dir)
    assert(ChangelogSink.read(spark, dir).count() == n)
    assertUidsUnique(dir)
    val n13 = env.where($"key" === "13").count()
    assert(n13 > 0)
    ChangelogSink.forgetKey(spark, dir, "13").collect()
    assertUidsUnique(dir)
    val date = ChangelogSink.read(spark, dir)
      .agg(max($"date").cast("string")).as[String].head()
    assert(ChangelogSink.compactPartition(spark, dir, "events", date) == 1)
    assertUidsUnique(dir)
    assert(ChangelogSink.read(spark, dir).count() == n - n13)
  }

  test("an append whose (topic, date) partitions are all new reads no " +
      "stored data file") {
    val dir = Files.createTempDirectory("changelog-new-parts").toString
    val env = Pipeline.envelope(spark, sf)
    ChangelogSink.append(env, dir)
    // break every stored data file: an append that read one would fail
    def dataFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) dataFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    val stored = dataFiles(new java.io.File(dir))
    assert(stored.nonEmpty)
    stored.foreach { f =>
      Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    }
    // the same records under another topic: only new partitions
    ChangelogSink.append(env.withColumn("topic", lit("replica"))
      .withColumn("uid", graft.model.Envelope.uid), dir)
    assert(spark.read.parquet(s"$dir/topic=replica").count() == env.count())
    // and an append that touches a stored partition does read it
    intercept[Exception](ChangelogSink.append(env, dir))
  }

  test("concurrent appends of disjoint Kafka partitions of one topic to " +
      "one date: the table holds their union, each uid once") {
    val dir = Files.createTempDirectory("changelog-concurrent").toString
    val ts = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    def batch(partition: Int, b: Int) = (0 until 2000).map { i =>
      val offset = b * 2000L + i
      ("T", partition, offset, s"T+$partition+$offset", s"k${i % 50}", ts)
    }.toDF("topic", "partition", "offset", "uid", "key", "timestamp")
      .repartition(4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // each writer owns one Kafka partition and appends four batches
      val writers = scala.concurrent.Future.traverse(Seq(0, 1)) { p =>
        scala.concurrent.Future(
          (0 until 4).foreach(b => ChangelogSink.append(batch(p, b), dir)))
      }
      scala.concurrent.Await.result(writers,
        scala.concurrent.duration.Duration(5, "min"))
    } finally pool.shutdown()
    assert(ChangelogSink.read(spark, dir).count() == 2 * 4 * 2000)
    assertUidsUnique(dir)
    assert(new java.io.File(dir, "topic=T").list().toSeq ==
      Seq("date=2024-05-01"))
  }

  test("the partition day is UTC whatever the session time zone, and a " +
      "null timestamp's partition is found too: replays store no copy") {
    val dir = Files.createTempDirectory("changelog-tz").toString
    // 20:00 UTC is already the next day at +05:30
    val batch = Seq(
      ("T", 0, 1L, "T+0+1", "k", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-05-01T20:00:00Z"))),
      ("T", 0, 2L, "T+0+2", "k", null: java.sql.Timestamp))
      .toDF("topic", "partition", "offset", "uid", "key", "timestamp")
    ChangelogSink.append(batch, dir)
    withSQLConf("spark.sql.session.timeZone" -> "+05:30") {
      ChangelogSink.append(batch, dir)
    }
    ChangelogSink.append(batch, dir)
    assert(ChangelogSink.read(spark, dir).count() == 2)
    assertUidsUnique(dir)
    assert(new java.io.File(dir, "topic=T").list().sorted.toSeq ==
      Seq("date=2024-05-01", "date=__HIVE_DEFAULT_PARTITION__"))
  }

  test("forgetKey erases a null-timestamp row from its default partition") {
    val dir = Files.createTempDirectory("changelog-forget-null").toString
    val at = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-05-01T20:00:00Z"))
    // the subject's rows sit in a dated and the null-date partition of
    // one topic, beside other subjects' rows in each
    ChangelogSink.append(Seq(
      ("T", 0, 1L, "T+0+1", "x", null: java.sql.Timestamp),
      ("T", 0, 2L, "T+0+2", "x", at),
      ("T", 0, 3L, "T+0+3", "y", null: java.sql.Timestamp),
      ("T", 0, 4L, "T+0+4", "z", at))
      .toDF("topic", "partition", "offset", "uid", "key", "timestamp"), dir)
    val audit = ChangelogSink.forgetKey(spark, dir, "x")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(audit == Seq(("T", null, 2L, 1L, 1L),
      ("T", "2024-05-01", 2L, 1L, 1L)))
    def uids() = ChangelogSink.read(spark, dir).select($"uid").as[String]
      .collect().toSet
    assert(uids() == Set("T+0+3", "T+0+4"))
    // one null-timestamp row alone: gone with its partition, and the
    // audit counts it
    val single = ChangelogSink.forgetKey(spark, dir, "y").collect()
    assert(single.map(_.getAs[Long]("rows_deleted")).toSeq == Seq(1L))
    assert(uids() == Set("T+0+4"))
    assert(new java.io.File(dir, "topic=T").list().toSeq ==
      Seq("date=2024-05-01"))
  }

  test("retention by age keeps null-timestamp rows: a future cutoff " +
      "drops only the dated partition, and a malformed cutoff throws") {
    val dir = Files.createTempDirectory("changelog-retain-null").toString
    ChangelogSink.append(Seq(
      ("T", 0, 1L, "T+0+1", "k", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-05-01T20:00:00Z"))),
      ("T", 0, 2L, "T+0+2", "k", null: java.sql.Timestamp))
      .toDF("topic", "partition", "offset", "uid", "key", "timestamp"), dir)
    assert(ChangelogSink.dropPartitionsBefore(spark, dir, "2030-01-01") == 1)
    assert(new java.io.File(dir, "topic=T").list().toSeq ==
      Seq("date=__HIVE_DEFAULT_PARTITION__"))
    assert(ChangelogSink.read(spark, dir).select($"uid").as[String]
      .collect().toSeq == Seq("T+0+2"))
    // a cutoff that is not yyyy-MM-dd fails before anything is dropped
    Seq("2024-5-1", "yesterday", "2024-05-01T00:00").foreach { bad =>
      intercept[IllegalArgumentException](
        ChangelogSink.dropPartitionsBefore(spark, dir, bad))
      intercept[IllegalArgumentException](
        ChangelogSink.rollIfNeeded(spark, dir, bad))
    }
    assert(new java.io.File(dir, "topic=T").list().toSeq ==
      Seq("date=__HIVE_DEFAULT_PARTITION__"))
  }

  /** Three (topic, date) partitions, each appended `appends` times as one
    * file per append: (A, 2024-05-01) with `big` rows per append, (B,
    * 2024-05-01) and (A, null timestamp) with 100 rows per append. */
  private def fragmentedTable(dir: String, big: Int, appends: Int): Unit = {
    val day = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    val parts = Seq(("A", day, big), ("B", day, 100),
      ("A", null: java.sql.Timestamp, 100))
    (0 until appends).foreach { b =>
      ChangelogSink.append(parts.flatMap { case (t, ts, n) =>
        (0 until n).map(i => (t, s"$t-${ts != null}-$b-$i", s"k${i % 7}", ts))
      }.toDF("topic", "uid", "key", "timestamp").coalesce(1), dir)
    }
  }

  private val sweptRels = Seq("topic=A/date=2024-05-01",
    "topic=A/date=__HIVE_DEFAULT_PARTITION__", "topic=B/date=2024-05-01")

  private def dataFiles(part: java.io.File): Seq[java.io.File] =
    part.listFiles().toSeq.filter(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("rollIfNeeded compacts every fragmented partition of two topics, " +
      "the null-timestamp one included, in one write command: " +
      "ceil(bytes/target) files each, rows unchanged, re-run a no-op") {
    val dir = Files.createTempDirectory("sink-sweep").toString
    fragmentedTable(dir, big = 1200, appends = 3)
    def part(rel: String) = new java.io.File(dir, rel)
    def bytes(rel: String) = dataFiles(part(rel)).map(_.length).sum
    sweptRels.foreach(r => assert(dataFiles(part(r)).size == 3, r))
    // the big partition compacts to two files, the others to one each
    val target = (bytes(sweptRels.head) + 1) / 2
    val want = sweptRels.map(r =>
      r -> math.ceil(bytes(r).toDouble / target).toInt).toMap
    assert(want == Map(sweptRels(0) -> 2, sweptRels(1) -> 1,
      sweptRels(2) -> 1), s"target $target: $want")
    def rows() = ChangelogSink.read(spark, dir).collect().map(_.toString)
      .toSeq.sorted
    val before = rows()

    val (swept, writes) = withWriteCount(
      ChangelogSink.rollIfNeeded(spark, dir, "2024-01-01", target))
    assert(swept == ((0, 3)))
    assert(writes == 1, s"$writes write commands for 3 partitions")
    sweptRels.foreach(r => assert(dataFiles(part(r)).size == want(r), r))
    assert(rows() == before)
    assert(!new java.io.File(dir).list().exists(_.startsWith(".")))
    // idempotent: every partition is at its target count
    val layout = sweptRels.map(r => dataFiles(part(r)).map(_.getName).toSet)
    assert(ChangelogSink.rollIfNeeded(spark, dir, "2024-01-01", target) ==
      ((0, 0)))
    assert(sweptRels.map(r => dataFiles(part(r)).map(_.getName).toSet) ==
      layout)
  }

  test("a sweep that fails mid-commit keeps the partition it swapped, " +
      "rolls the failing one back, and recoverStaging rolls every " +
      "manifest partition forward: no row lost or duplicated") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val local = Files.createTempDirectory("sweep-crash").toString
    val dir = "flaky:" + local
    fragmentedTable(dir, big = 100, appends = 3)
    // content through plain file: paths (parquet data is never read
    // through the test scheme by the assertions)
    def rows(rel: String): Seq[String] =
      spark.read.parquet(s"file:$local/$rel").collect().map(_.toString)
        .toSeq.sorted
    def files(rel: String) = dataFiles(new java.io.File(local, rel)).size
    val before = sweptRels.map(r => r -> rows(r)).toMap
    sweptRels.foreach(r => assert(files(r) == 3, r))

    // each partition stages one file, swapped in path order: the second
    // move overall is the second partition's
    FlakyRenameFs.movesSeen.set(0)
    FlakyRenameFs.failMovesAfter = 1
    try {
      val e = intercept[IllegalStateException](
        ChangelogSink.rollIfNeeded(spark, dir, "2024-01-01"))
      assert(e.getMessage.contains("move-staged"), e.getMessage)
    } finally FlakyRenameFs.failMovesAfter = -1

    assert(sweptRels.map(files) == Seq(1, 3, 3))
    sweptRels.foreach { r =>
      assert(rows(r) == before(r), s"$r changed by the failed sweep")
      assert(!new java.io.File(local, r).list()
        .exists(_.startsWith(".compacting-")), r)
    }
    val staging = new java.io.File(local).listFiles()
      .filter(_.getName.startsWith(".compact-"))
    assert(staging.length == 1 &&
      new java.io.File(staging.head, "_MANIFEST").isFile)

    assert(ChangelogSink.recoverStaging(spark, dir) == ((1, 0)))
    assert(sweptRels.map(files) == Seq(1, 1, 1))
    sweptRels.foreach(r => assert(rows(r) == before(r), r))
    assert(!new java.io.File(local).list().exists(_.startsWith(".")))
  }

  test("compaction and erasure over two topics keep each topic's " +
      "payload schema: no rewrite drops another topic's fields") {
    val dir = Files.createTempDirectory("changelog-two-schemas").toString
    val ts = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    // two topics whose envelopes carry different `message` structs, two
    // appends each: two or more files per partition
    (0 until 2).foreach { b =>
      ChangelogSink.append(Seq(("events", s"e$b-1", "s", ts, "click", 1.5),
          ("events", s"e$b-2", "x", ts, "view", 2.5 + b))
        .toDF("topic", "uid", "key", "timestamp", "event_type", "amount")
        .select($"topic", $"uid", $"key", $"timestamp",
          struct($"event_type", $"amount").as("message")), dir)
      ChangelogSink.append(Seq(("orders", s"o$b-1", "s", ts, "paid", 7L),
          ("orders", s"o$b-2", "y", ts, "open", 3L + b))
        .toDF("topic", "uid", "key", "timestamp", "status", "items")
        .select($"topic", $"uid", $"key", $"timestamp",
          struct($"status", $"items").as("message")), dir)
    }
    def part(t: String) =
      spark.read.parquet(s"$dir/topic=$t/date=2024-05-01")
    def content(t: String, keep: org.apache.spark.sql.Column = lit(true)) =
      part(t).where(keep).select($"uid", $"message").collect()
        .map(_.toString).toSet
    val topics = Seq("events", "orders")
    val schemas = topics.map(t => part(t).schema)
    val before = topics.map(t => content(t))
    val kept = topics.map(t => content(t, $"key" =!= "s"))
    assert(ChangelogSink.rollIfNeeded(spark, dir, "2024-01-01") == ((0, 2)))
    assert(topics.map(t => part(t).schema) == schemas)
    assert(topics.map(t => content(t)) == before)
    ChangelogSink.forgetKey(spark, dir, "s").collect()
    assert(topics.map(t => part(t).schema) == schemas)
    assert(topics.map(t => content(t)) == kept)
  }

  test("append never sets up a write job in the table root's _temporary") {
    // a plain partitioned write to the root would: its committer shares
    // <root>/_temporary with every other append running at once. Here
    // that name is a file, so such a write cannot set up its job.
    val dir = Files.createTempDirectory("changelog-no-temporary").toString
    Files.write(new java.io.File(dir, "_temporary").toPath,
      Array.emptyByteArray)
    val env = Pipeline.envelope(spark, sf)
    ChangelogSink.append(env, dir)
    ChangelogSink.append(env.withColumn("topic", lit("replica"))
      .withColumn("uid", graft.model.Envelope.uid), dir)
    assert(ChangelogSink.read(spark, dir).count() == 2 * env.count())
    assert(new java.io.File(dir, "_temporary").isFile)
  }
}
