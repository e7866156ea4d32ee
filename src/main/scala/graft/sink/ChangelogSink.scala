package graft.sink

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Tables

/**
 * K1/K3 — the changelog sink. The reference bulk-indexes every enriched
 * record into Elasticsearch with `_id = topic+partition+offset` and bounds
 * index size via rollover (reference: kafana.http:69-95, README.md:11,14).
 * Spark-natively that is an APPEND-ONLY parquet table partitioned by
 * (topic, date):
 *
 *  - append mode matches the changelog model — no upsert machinery needed:
 *    [[append]] stores each `uid` once (a replay of a stored record is
 *    dropped on the way in, as the reference's `_id` overwrite drops it),
 *    so no reader deduplicates;
 *  - (topic, date) partitioning replaces both the ES index-per-pattern
 *    layout AND rollover: queries with topic/time predicates partition-prune
 *    (at 100 TB only matching directories are even listed), and retention
 *    is a metadata-only partition drop, never a data rewrite.
 */
object ChangelogSink {

  private[sink] val log =
    org.slf4j.LoggerFactory.getLogger(ChangelogSink.getClass)

  /**
   * The COMMIT PRIMITIVE [[commit]] and [[recoverStaging]] are built
   * on, and the one place their filesystem assumption
   * lives: `rename` must be an ATOMIC, O(1) METADATA operation — true on
   * HDFS and POSIX filesystems, where the hide/move/delete protocol then
   * gives per-partition atomicity (a reader never observes missing or
   * duplicated rows, crash recovery replays deterministically from the
   * manifest).
   *
   * On an OBJECT STORE (S3/GCS via their Hadoop connectors) rename is
   * COPY-THEN-DELETE: O(bytes), and a crash between the copy and the
   * delete leaves BOTH names visible. The swap protocol degrades
   * deterministically rather than silently (spec'd in
   * ChangelogSinkSpec's object-store cases):
   *
   *  - crash window on a MOVE-STAGED rename (staged file copied into the
   *    partition, staging copy not yet deleted): [[recoverStaging]]
   *    CONVERGES — the move is skipped because the destination exists
   *    (object PUTs are atomic, so dst-exists means fully copied),
   *    hidden originals drop, rows land exactly once;
   *  - crash window on a HIDE-ORIGINAL rename (dot-copy landed, visible
   *    original not yet deleted): recovery REFUSES LOUDLY — re-hiding
   *    hits an existing destination and [[renameOrThrow]] throws before
   *    anything is deleted, because finishing the hide would require
   *    trusting the copy, which POSIX (partial-copy) semantics cannot
   *    guarantee. No row is lost; an operator resolves the pair.
   *
   * Deployments on object stores should prefer the store's native
   * conditional-put/compose primitives behind this seam (or a
   * manifest-committed table format); the swap logic above it is
   * unchanged. With CONDITIONAL-PUT semantics (S3 `PutObject` with
   * If-None-Match, GCS `ifGenerationMatch=0` — a PUT either lands the
   * whole object or nothing, and never overwrites) the store itself
   * guarantees any VISIBLE destination object is COMPLETE, so the
   * hide-window refusal above becomes unnecessary: [[recoverStaging]]
   * with `conditionalPut = true` finishes a dst-exists hide by deleting
   * the source ([[CommitOps.renameOrFinish]]) and BOTH crash windows
   * converge. Posture by store:
   *
   * | store                  | rename            | recovery posture      |
   * |------------------------|-------------------|-----------------------|
   * | HDFS / POSIX           | atomic metadata   | default: both windows |
   * |                        |                   | converge              |
   * | S3A/GCS connector      | copy-then-delete  | default: move window  |
   * | (plain rename)         | (partial visible) | converges, hide       |
   * |                        |                   | window refuses loudly |
   * | conditional-put        | copy-if-absent,   | `conditionalPut=true`:|
   * | (If-None-Match /       | visible = whole   | both windows converge |
   * | generation-match)      | object            |                       |
   */
  private[sink] object CommitOps {
    def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem, src: Path,
        dst: Path, what: String, op: String): Unit =
      if (!fs.rename(src, dst)) throw new IllegalStateException(
        s"$op: $what rename failed: $src -> $dst")

    /** Conditional-put posture: a failed rename whose DESTINATION
      * EXISTS is finished by deleting the source — sound ONLY when the
      * store's PUT is atomic-if-absent (a partial upload never becomes
      * a visible object), which is exactly what S3 If-None-Match / GCS
      * generation-match preconditions provide. Under POSIX or plain
      * copy-then-delete connectors a visible destination can be a
      * PARTIAL copy: use [[renameOrThrow]] there. A failure with no
      * destination (transient fault) still throws. The finishing delete
      * must itself succeed loudly: a false return with the source still
      * visible would leave BOTH copies live (duplicate rows), so it
      * throws like [[renameOrThrow]] instead of proceeding. */
    def renameOrFinish(fs: org.apache.hadoop.fs.FileSystem, src: Path,
        dst: Path, what: String, op: String): Unit =
      if (!fs.rename(src, dst)) {
        if (fs.exists(dst)) {
          if (!fs.delete(src, false) && fs.exists(src))
            throw new IllegalStateException(
              s"$op: $what finish-delete failed, source still visible " +
                s"beside landed destination: $src -> $dst")
        } else throw new IllegalStateException(
          s"$op: $what rename failed with no destination: $src -> $dst")
      }
  }

  /**
   * Append an envelope frame to the partitioned changelog table, storing
   * each `uid` (topic+partition+offset) once. This is the only place uid
   * uniqueness is enforced; no reader deduplicates.
   *
   *  - The batch's own copies are dropped, then uids already stored are
   *    anti-joined out. `date` is the timestamp's day in UTC, whatever
   *    the session time zone, and every copy of a uid carries the same
   *    timestamp, so all copies sit in one (topic, date) partition (a
   *    null timestamp in Spark's default partition): only the `uid`
   *    column of the existing partitions the batch touches is read, by
   *    explicit path (the root is never listed). One small job finds
   *    them; a batch whose partitions are all new reads no stored file.
   *  - Cost: besides the batch, an append reads every stored uid of
   *    each day it touches, and shuffles them once they outgrow a
   *    broadcast, so it grows with the rows already stored for that day;
   *    a stream appending to today rereads today's uids in every
   *    micro-batch. On 4 local cores a 1000-record append took 0.5–1.2 s
   *    warm up to 1e6 stored rows that day, and 2.8–3.5 s at 1e7 (61 MB of
   *    uid shuffle).
   *  - The batch goes through [[commit]] with an empty snapshot: staged
   *    in its own dot-dir (Spark's committer shares one `_temporary` dir
   *    per output path, so two plain appends to one table at once can
   *    fail each other) and renamed in. A failed append may leave part
   *    of its rows stored; a retry stores the rest, once. A killed one
   *    leaves an `.append-*` dir that readers skip and [[recoverStaging]]
   *    deletes.
   *
   * Contract: one writer per Kafka (topic, partition), Kafka Connect's
   * task model, so only a later replay of the same partition repeats a
   * uid. Appends of different Kafka partitions may run at once, of one
   * topic and date too. A replay racing a compaction or erasure of its
   * partition may store a copy. A table written before this contract is
   * made unique once with `append(read(old), new)`.
   */
  def append(env: DataFrame, path: String): Unit = {
    val spark = env.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the date cast to string before the collect, as in [[eraseKeys]]
    val touched = env
      .select(col("topic"), utcDate(col("timestamp")).cast("string"))
      .distinct().collect()
      .map(r => new Path(root, partDir(r.getString(0), r.getString(1))))
      .filter(fs.exists)
    val batch = env.withColumn("date", utcDate(col("timestamp")))
      .dropDuplicates("uid")
    val fresh =
      if (touched.isEmpty) batch
      else batch.join(
        spark.read.schema("uid STRING")
          .parquet(touched.map(_.toString).toIndexedSeq: _*)
          .select(col("uid").as("stored_uid")),
        col("uid") === col("stored_uid"), "left_anti")
    commit(spark, path, fresh, Map.empty, ".append-", "append")
  }

  /** The (topic, date) partition's path under the table root, spelled as
    * Spark's partition writer spells it: a null date is
    * `date=__HIVE_DEFAULT_PARTITION__`, and special characters are
    * escaped. */
  private def partDir(topic: String, date: String): String =
    ExternalCatalogUtils.getPartitionPathString("topic", topic) + "/" +
      ExternalCatalogUtils.getPartitionPathString("date", date)

  /** `ts`'s day in UTC: `to_date` would take the session's time zone,
    * and a uid must land in the same partition whichever session appends
    * it. */
  private def utcDate(ts: Column): Column = {
    val micros = unix_micros(ts)
    val day = 24L * 3600 * 1000 * 1000
    date_from_unix_date(((micros - pmod(micros, lit(day))) / day).cast("int"))
  }

  /**
   * Read the changelog back (partition columns topic/date restored),
   * without a schema-inference Spark job: the data schema is
   * [[graft.ingest.Tables.footerSchema]], the driver-side footer read
   * every parquet open in the engine shares, and `topic STRING` and
   * `date DATE` are appended as [[append]] writes them. A table with no
   * data file fails as `spark.read.parquet` does. The file listing stays
   * Spark's: driver-side, unless one directory holds more subdirectories
   * than `spark.sql.sources.parallelPartitionDiscovery.threshold`.
   */
  def read(spark: SparkSession, path: String): DataFrame =
    Tables.footerSchema(spark, path).fold(Tables.parquet(spark, path)) {
      data => spark.read.schema(withPartitionColumns(data)).parquet(path)
    }

  /** A data-file schema with the partition columns `read` restores. */
  private def withPartitionColumns(data: StructType): StructType =
    data.add("topic", StringType).add("date", DateType)

  /** `files` (each under a partition dir of the table at `path`) with
    * their partition columns restored from the dir names, typed by
    * `schema`. An explicit file list, never a listing: only a snapshot's
    * files are read. */
  private def readFiles(spark: SparkSession, path: String,
      schema: StructType, files: Seq[FileStatus]): DataFrame =
    spark.read.schema(schema).option("basePath", path)
      .parquet(files.map(_.getPath.toString): _*)

  /**
   * [[append]] with an ingest audit attached via `Dataset.observe` — the
   * production data-quality hook: metrics are accumulated by the
   * append's own first pass over the batch, its partition-key job
   * (per-task accumulators folded into the job, not a scan of its own),
   * so every ingest batch gets a (rows, tombstones, min/max event time)
   * audit row for free. The rows are counted as delivered, before the
   * uid dedup. Returns the observed metrics; a deployment forwards them
   * to its metrics sink or asserts freshness/volume SLOs on them. At
   * 100 TB the cost is a few accumulators per task.
   */
  def appendObserved(env: DataFrame, path: String): Map[String, Any] = {
    val obs = new org.apache.spark.sql.Observation("ingest_audit")
    val audited = env.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col("message.value_json") === "TOMBSTONE", 1L)
        .otherwise(0L)).as("n_tombstones"),
      min(col("timestamp")).as("min_ts"),
      max(col("timestamp")).as("max_ts"))
    append(audited, path)
    obs.get
  }

  /**
   * Streaming flavor of [[append]]: a `foreachBatch` writer that appends
   * each micro-batch. The replayable source plus [[append]]'s idempotence
   * give the reference's effectively-once story (README.md:11: the
   * topic+partition+offset id makes replays idempotent) without a
   * transactional sink: a record re-delivered in a later micro-batch, or
   * a whole batch retried after a failure, is stored once.
   */
  def streamAppend(env: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    env.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => append(batch, path) }
      .start()

  /**
   * RIGHT TO ERASURE (GDPR art. 17 / CCPA deletion): remove every record
   * with `key` from the changelog by rewriting ONLY the (topic, date)
   * partitions that contain it, in a CONSTANT number of Spark jobs no
   * matter how many partitions the subject touches:
   *
   *  1. discovery — ONE scan with the key filter pushed to parquet
   *     (dictionary/bloom pruning skips most row groups); yields the hit
   *     list + per-partition delete counts (bounded driver metadata);
   *  2. rewrite — the kept rows of the hit partitions' snapshot files
   *     (untouched partitions are never even listed) go through
   *     [[rewrite]]: one staged write (one per topic payload schema),
   *     then a metadata-only swap per hit partition. A partition whose
   *     rows were ALL the subject's stages no output and its directory
   *     is removed;
   *  3. audit — rows_after comes from the committed files' parquet
   *     FOOTERS (record counts are free metadata; O(#files) driver reads,
   *     no third data pass) and rows_before = rows_after + rows_deleted.
   *
   * The commit is atomic per partition, not across partitions (see
   * [[commit]]), and erasure is idempotent: a RETRY re-discovers only the
   * partitions still holding the key and finishes the job (a
   * fully-erased table returns an empty audit, no-op). A file appended to
   * a hit partition after the snapshot is neither lost nor duplicated,
   * but its rows are not erased by THIS call (a retry re-discovers them).
   *
   * Returns the audit frame (topic, date, rows_before, rows_deleted,
   * rows_after) — the erasure receipt a compliance pipeline stores.
   */
  def forgetKey(spark: SparkSession, path: String, key: String)
      : DataFrame = {
    val (partAudit, _) = eraseKeys(spark, path, Seq(key))
    spark.createDataFrame(
      spark.sparkContext.parallelize(partAudit.toIndexedSeq.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3, t._4, t._5)), 1),
      StructType(Seq(
        StructField("topic", StringType), StructField("date", StringType),
        StructField("rows_before", LongType),
        StructField("rows_deleted", LongType),
        StructField("rows_after", LongType))))
  }

  /**
   * BATCH right to erasure: GDPR/CCPA requests arrive in batches, and
   * looping [[forgetKey]] re-scans and re-rewrites shared partitions once
   * PER SUBJECT. This erases every subject in `keys` with the SAME
   * constant job count as one subject — one pushed-`IN`-filter discovery
   * scan, one staged rewrite of the union of hit partitions, footer-based
   * audit, per-partition swap — so a thousand-subject batch costs one
   * subject's jobs plus proportionally more rewritten partitions.
   *
   * Returns per-subject receipts: (key, topic, date, rows_deleted,
   * part_rows_before, part_rows_after) — one row per (subject, hit
   * partition), with the partition's totals alongside for the audit trail.
   */
  def forgetKeys(spark: SparkSession, path: String, keys: Seq[String])
      : DataFrame = {
    val (partAudit, keyHits) = eraseKeys(spark, path, keys)
    val partTotals = partAudit.map(t => ((t._1, t._2), (t._3, t._5))).toMap
    val rows = keyHits.map { case (key, topic, date, nDel) =>
      val (before, after) = partTotals((topic, date))
      org.apache.spark.sql.Row(key, topic, date, nDel, before, after)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(
        StructField("key", StringType), StructField("topic", StringType),
        StructField("date", StringType),
        StructField("rows_deleted", LongType),
        StructField("part_rows_before", LongType),
        StructField("part_rows_after", LongType))))
  }

  /** Shared erasure core (see [[forgetKey]]). Returns (per-partition
    * audit sorted by (topic, date), per-(key, partition) delete counts
    * sorted by (key, topic, date)). */
  private def eraseKeys(spark: SparkSession, path: String,
      keys: Seq[String])
      : (Seq[(String, String, Long, Long, Long)],
         Seq[(String, String, String, Long)]) = {
    require(keys.nonEmpty, "eraseKeys needs at least one key")
    // the partition column is DateType — cast to string BEFORE collect:
    // decoding java.sql.Date rows needs JVM --add-opens flags a plain
    // `java -cp` launch (the bench harness) doesn't pass, and the audit
    // wants the partition-dir spelling anyway. A null timestamp's rows
    // have a null date: it sorts first, and [[partDir]] finds its dir
    val table = read(spark, path)
    val keyHits = table.where(col("key").isin(keys: _*))
      .groupBy(col("key"), col("topic"),
        col("date").cast("string").as("date"))
      .agg(count(lit(1)).as("n_del"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .sortBy(t => (t._1, t._2, Option(t._3)))
    if (keyHits.isEmpty) return (Nil, Nil)
    val hits = keyHits.groupBy(t => (t._2, t._3))
      .map { case ((t, d), rows) => (t, d, rows.map(_._4).sum) }
      .toSeq.sortBy(t => (t._1, Option(t._2)))
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the SNAPSHOT, listed before the rewrite reads anything
    val snapshot = hits.map { case (t, d, _) =>
      partDir(t, d) -> dataFiles(fs, new Path(path, partDir(t, d)))
    }
    // the snapshot files' kept rows; natural input partitioning keeps the
    // rewrite fully parallel. NULL keys are never a subject: isin() is
    // null for them, so keep on coalesce(..., false)
    val committed = rewrite(spark, path, snapshot, ".forget-",
        "forgetKeys") { (schema, group) =>
      readFiles(spark, path, schema, group.flatMap(_._2))
        .where(!coalesce(col("key").isin(keys: _*), lit(false)))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    def footerRows(f: Path): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }
    val audit = hits.map { case (topic, date, nDel) =>
      val b = committed.getOrElse(partDir(topic, date), Nil)
        .map(footerRows).sum + nDel
      (topic, date, b, nDel, b - nDel)
    }
    (audit, keyHits.toIndexedSeq)
  }

  /** The visible parquet data files in `dir`, never a dot-hidden swap
    * leftover: a crash mid-swap leaves hidden .forgetting-* and
    * .compacting-* originals for [[recoverStaging]] to settle, and
    * reading one as an explicit path would duplicate its rows or, once a
    * swap hid or deleted it, drop rows never rewritten. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).filter(f => f.isFile &&
      f.getPath.getName.endsWith(".parquet") &&
      !f.getPath.getName.startsWith(".")).toSeq

  /** Every `topic=*` / `date=*` partition dir under `root` (a table root
    * or a staging dir). */
  private def partitions(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[Path] = for {
    topicDir <- fs.listStatus(root).toSeq
    if topicDir.isDirectory && topicDir.getPath.getName.startsWith("topic=")
    dateDir <- fs.listStatus(topicDir.getPath).toSeq
    if dateDir.isDirectory && dateDir.getPath.getName.startsWith("date=")
  } yield dateDir.getPath

  /** A partition dir's path relative to its root, `topic=…/date=…`. */
  private def relOf(part: Path): String =
    s"${part.getParent.getName}/${part.getName}"

  /** The dot-prefix [[commit]] and [[recoverStaging]] hide a staging
    * dir's snapshot originals behind. */
  private def hidePrefixOf(staging: String): String =
    if (staging.startsWith(".forget-")) ".forgetting-" else ".compacting-"

  /**
   * The one commit step of every changelog write: [[append]], erasure
   * and compaction. `frame` holds the new rows, `topic` and `date`
   * columns included; `snapshot` maps each partition to replace (its
   * path relative to the root) to the original files the caller listed
   * before reading any of them, and is empty for an append.
   *
   *  1. stage — ONE write of `frame`, partitioned by (topic, date), into
   *     a dot-dir named `stage` plus a UUID. Readers skip dot-paths, and
   *     no two writers of the table share Spark's `_temporary`. Spark's
   *     own overwrite cannot do this: its path-based writer refuses to
   *     overwrite a path in its own input (UNSUPPORTED_OVERWRITE.PATH,
   *     whatever `partitionOverwriteMode` says), and its dynamic
   *     committer deletes the old partition dirs with no rollback.
   *  2. manifest — unless the snapshot is empty, `_MANIFEST` records
   *     every partition, its snapshot originals and its staged files,
   *     strictly after the write and before any rename (see
   *     [[writeManifest]]). [[recoverStaging]] replays a killed commit
   *     from it; a staging dir without one is debris.
   *  3. swap — per partition, in path order, [[swap]] hides every
   *     snapshot original behind a dot-prefixed rename, then moves the
   *     staged files in; the hidden originals are then deleted, and a
   *     partition left empty (fully erased, nothing appended since the
   *     snapshot) loses its dir. O(#files) metadata renames on the
   *     driver, no Spark job. Every rename is checked (HDFS and local
   *     `rename` report failure by returning false), and a failure rolls
   *     its partition back to exactly its pre-swap files.
   *  4. clean up — the staging dir is deleted. A failed commit keeps it
   *     only when it has a manifest, for [[recoverStaging]].
   *
   * Only snapshot files are read, hidden or deleted, so a file appended
   * to a partition after the caller's listing is neither lost nor
   * duplicated; its rows are just not part of this rewrite. A reader
   * never sees a partition with missing or duplicated rows. The commit is
   * atomic per partition, not across partitions — the granularity of
   * Spark's own dynamic overwrite: a failure leaves the partitions before
   * it committed and the rest as they were, and erasure and compaction
   * are idempotent, so a retry or [[recoverStaging]] finishes them. Two
   * commits that replace the same partition must not run at once (their
   * hides would race); appends may run beside anything. `rename` must be
   * an atomic metadata operation ([[CommitOps]] says what an object
   * store does instead). Returns the committed files of each partition.
   */
  private def commit(spark: SparkSession, path: String, frame: DataFrame,
      snapshot: Map[String, Seq[FileStatus]], stage: String, op: String)
      : Map[String, Seq[Path]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root, stage + java.util.UUID.randomUUID())
    var done = false
    try {
      frame.write.partitionBy("topic", "date").parquet(staging.toString)
      val staged = partitions(fs, staging)
        .map(p => relOf(p) -> dataFiles(fs, p)).toMap
      val parts = (snapshot.keySet ++ staged.keySet).toSeq.sorted
      def names(files: Map[String, Seq[FileStatus]], rel: String) =
        files.getOrElse(rel, Nil).map(_.getPath.getName)
      if (snapshot.nonEmpty) writeManifest(fs, staging, parts.map(rel =>
        (rel, names(snapshot, rel), names(staged, rel))))
      val committed = parts.map { rel =>
        val part = new Path(root, rel)
        val moveIn = staged.getOrElse(rel, Nil)
        if (moveIn.nonEmpty) fs.mkdirs(part)
        swap(fs, part, snapshot.getOrElse(rel, Nil), moveIn,
          hidePrefixOf(stage), op).foreach(fs.delete(_, false))
        if (moveIn.isEmpty && fs.listStatus(part).isEmpty)
          fs.delete(part, true)
        rel -> moveIn.map(f => new Path(part, f.getPath.getName))
      }.toMap
      done = true
      committed
    } finally {
      if (done || !fs.exists(new Path(staging, ManifestName)))
        fs.delete(staging, true)
    }
  }

  /** [[commit]] of a rewrite of `snapshot`'s partitions (each its path
    * relative to the root and its files), one commit per distinct data
    * schema: the first file's, as a read of the partition infers it.
    * Each topic's envelope carries its own `message` struct, and a write
    * has one schema, so one rewrite of two topics' partitions would read
    * every file with one topic's schema and drop the other's fields.
    * `rows` builds a group's new rows from its schema (partition columns
    * included) and its partitions. Returns the committed files of each
    * partition. */
  private def rewrite(spark: SparkSession, path: String,
      snapshot: Seq[(String, Seq[FileStatus])], stage: String, op: String)(
      rows: (StructType, Seq[(String, Seq[FileStatus])]) => DataFrame)
      : Map[String, Seq[Path]] = {
    val bySchema = snapshot.filter(_._2.nonEmpty).map { case p @ (_, files) =>
      withPartitionColumns(Tables.footerSchema(spark,
        files.head.getPath.toString).get) -> p
    }
    bySchema.map(_._1).distinct.flatMap { schema =>
      val group = bySchema.collect { case (`schema`, p) => p }
      commit(spark, path, rows(schema, group), group.toMap, stage, op)
    }.toMap
  }

  /** Phases 1 and 2 of [[commit]]'s swap for one partition: hide every
    * original behind `hidePrefix`, then move every staged file into
    * `part`. Any failure un-moves (else deletes) the staged files already
    * moved in BEFORE it restores the originals, so a partial staged copy
    * never stays visible beside them. Returns the hidden originals for
    * the caller's phase 3 delete. */
  private def swap(fs: org.apache.hadoop.fs.FileSystem, part: Path,
      originals: Seq[FileStatus], staged: Seq[FileStatus],
      hidePrefix: String, op: String): Seq[Path] = {
    val hidden = scala.collection.mutable.ListBuffer.empty[(Path, Path)]
    val moved = scala.collection.mutable.ListBuffer.empty[(Path, Path)]
    try {
      originals.foreach { f =>
        val h = new Path(part, hidePrefix + f.getPath.getName)
        CommitOps.renameOrThrow(fs, f.getPath, h, "hide-original", op)
        hidden += ((f.getPath, h))
      }
      staged.foreach { f =>
        val dst = new Path(part, f.getPath.getName)
        CommitOps.renameOrThrow(fs, f.getPath, dst, "move-staged", op)
        moved += ((f.getPath, dst))
      }
    } catch {
      case e: Throwable =>
        moved.foreach { case (src, dst) => // un-move, else drop the copy
          if (!fs.rename(dst, src) && !fs.delete(dst, false)) {
            // both rollback paths failed: the staged file stays VISIBLE
            // next to the restored originals, duplicating its rows — an
            // operator must remove it before any retry snapshots the
            // partition
            val warn = new IllegalStateException(
              s"$op rollback: staged file $dst could be " +
                "neither moved back nor deleted; partition holds " +
                "DUPLICATE rows until it is removed")
            e.addSuppressed(warn)
            ChangelogSink.log.warn(warn.getMessage)
          }
        }
        hidden.foreach { case (orig, h) => fs.rename(h, orig) } // best effort
        throw e
    }
    hidden.map(_._2).toSeq
  }

  private val ManifestName = "_MANIFEST"

  /** The manifest of a staging dir. Line format: `L nested` (staged
    * files under partition subdirs; [[recoverStaging]] still reads the
    * `L flat` layout an older build wrote, staged files at the staging
    * root), `P <partRel>`, `O <partRel>/<origName>` (the swap's SNAPSHOT
    * — recovery must never touch files appended after it),
    * `F <partRel>/<stagedName>`. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      staging: Path, parts: Seq[(String, Seq[String], Seq[String])]): Unit = {
    val lines = "L nested" +: (parts.map { case (rel, _, _) => s"P $rel" } ++
      parts.flatMap { case (rel, origs, _) => origs.map(n => s"O $rel/$n") } ++
      parts.flatMap { case (rel, _, staged) => staged.map(n => s"F $rel/$n") })
    val out = new java.io.OutputStreamWriter(
      fs.create(new Path(staging, ManifestName), true), "UTF-8")
    try out.append(lines.mkString("", "\n", "\n")) finally out.close()
  }

  /**
   * HARD-CRASH RECOVERY for [[commit]]: erasure `.forget-*` and
   * compaction `.compact-*` staging dirs, and killed appends'
   * `.append-*`. The in-process rollback handles rename FAILURES; a
   * process kill mid-swap handles nothing — it can strand a partition
   * with its snapshot originals hidden (dot-prefixed, invisible to
   * readers) and the staged files only partially moved in. Readers see
   * missing rows until someone repairs it, and a blind erasure RETRY
   * cannot: the subject's rows are hidden from discovery.
   *
   * Recovery is a deterministic ROLL-FORWARD replay of the commit from
   * the staging manifest, per manifest partition:
   *
   *  - still-visible manifest ORIGINALS mean the move phase never
   *    started there (hide-all strictly precedes move): hide and drop
   *    them; files NOT in the manifest (appended after the snapshot)
   *    are never touched — the append-safety rule survives the crash;
   *  - staged files still in staging move in; hidden originals delete;
   *    an erasure partition with no staged files was fully erased and
   *    its directory drops (unless post-snapshot appends landed there);
   *  - a partition with NO evidence of this swap (no manifest original
   *    visible or hidden, no staged file landed) was REWRITTEN by a
   *    later operation — rolling forward would resurrect stale rows, so
   *    it is skipped;
   *  - a partition with a staged file in NEITHER place was rolled back
   *    in process by deleting a copy it could not un-move: rolling
   *    forward without that file would drop its rows, so it is skipped
   *    (it keeps its pre-swap originals);
   *  - a staging dir WITHOUT a manifest means the staged write itself
   *    died: nothing was ever hidden or moved, delete it outright. An
   *    [[append]]'s `.append-*` dir never has one: what it holds was
   *    not moved in, and a retry of that append stores it.
   *
   * Idempotent — a second run (or a crash mid-recovery, then a third)
   * finds strictly less debris. MUST NOT run concurrently with a live
   * erasure/compaction on the same table (the swap's own exclusivity
   * rule), nor with a live append, whose staging dir it would delete
   * mid-write. Returns (rolledForwardStagingDirs, discardedStagingDirs).
   *
   * `conditionalPut = true` declares the store's atomic PUT-if-absent
   * contract (see [[CommitOps]]'s posture table): a hide-rename that
   * fails because its dot-copy already EXISTS is then FINISHED (the
   * visible original deleted) instead of refused — the store, not the
   * copier, vouches that the visible copy is complete. Leave false on
   * POSIX and plain copy-then-delete connectors.
   */
  def recoverStaging(spark: SparkSession, path: String,
      conditionalPut: Boolean = false): (Int, Int) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0, 0)
    val stagings = fs.listStatus(root).filter(s =>
      s.isDirectory && Seq(".forget-", ".compact-", ".append-")
        .exists(s.getPath.getName.startsWith))
    var (forward, discarded) = (0, 0)
    stagings.foreach { st =>
      val staging = st.getPath
      val hidePrefix = hidePrefixOf(staging.getName)
      val manifest = new Path(staging, ManifestName)
      if (!fs.exists(manifest)) {
        fs.delete(staging, true) // write died pre-manifest: pure debris
        discarded += 1
      } else {
        val lines = {
          val in = fs.open(manifest)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toVector
          finally in.close()
        }
        val nested = !lines.headOption.contains("L flat")
        def byPart(prefix: String): Map[String, Set[String]] =
          lines.collect { case l if l.startsWith(prefix) =>
            val rel = l.stripPrefix(prefix)
            val cut = rel.lastIndexOf('/')
            (rel.take(cut), rel.drop(cut + 1))
          }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val parts = lines.collect { case l if l.startsWith("P ") =>
          l.stripPrefix("P ") }
        val stagedByPart = byPart("F ")
        val origByPart = byPart("O ")
        def renameOrThrow(src: Path, dst: Path, what: String): Unit =
          if (conditionalPut)
            CommitOps.renameOrFinish(fs, src, dst, what, "recoverStaging")
          else CommitOps.renameOrThrow(fs, src, dst, what, "recoverStaging")
        parts.foreach { rel =>
          val part = new Path(path, rel)
          val stagedNames = stagedByPart.getOrElse(rel, Set.empty)
          val origNames = origByPart.getOrElse(rel, Set.empty)
          if (fs.exists(part)) {
            val names = fs.listStatus(part).filter(_.isFile)
              .map(_.getPath.getName).toSet
            def stagedSrc(name: String): Path =
              if (nested) new Path(staging, s"$rel/$name")
              else new Path(staging, name)
            val evidence =
              names.exists(n => origNames.contains(n) ||
                origNames.contains(n.stripPrefix(hidePrefix)) &&
                  n.startsWith(hidePrefix)) ||
              names.exists(stagedNames.contains)
            val lost = stagedNames.exists(n =>
              !names.contains(n) && !fs.exists(stagedSrc(n)))
            if (evidence && !lost) {
              // visible manifest originals = move phase never started
              // here: finish hiding them (post-snapshot appends are NOT
              // in the manifest and are never touched)
              names.filter(origNames.contains).foreach { n =>
                renameOrThrow(new Path(part, n),
                  new Path(part, s"$hidePrefix$n"), "hide-original")
              }
              // move in whatever staged files have not landed yet
              stagedNames.foreach { name =>
                val src = stagedSrc(name)
                val dst = new Path(part, name)
                if (fs.exists(src) && !fs.exists(dst))
                  renameOrThrow(src, dst, "move-staged")
              }
              // drop the hidden originals; drop a fully-erased dir
              fs.listStatus(part)
                .filter(f => f.isFile &&
                  f.getPath.getName.startsWith(hidePrefix))
                .foreach(f => fs.delete(f.getPath, false))
              if (fs.listStatus(part).isEmpty) fs.delete(part, true)
            }
          }
        }
        fs.delete(staging, true)
        forward += 1
      }
    }
    (forward, discarded)
  }

  /**
   * Small-file compaction for one (topic, date) partition — the nightly
   * job behind any streaming append sink: `foreachBatch` writes one file
   * per micro-batch per partition, and a day of 1-minute triggers leaves
   * 1440 tiny files whose open/footer cost dominates scans. Rewrites the
   * partition's files into `ceil(bytes / targetBytes)` files through
   * [[commit]]; only this partition's bytes are rewritten. Idempotent:
   * re-running on a compact partition is a no-op. A null `date` names
   * the partition of null-timestamp rows. Returns the resulting file
   * count. [[rollIfNeeded]] is the same rewrite over every fragmented
   * partition of the table at once.
   */
  def compactPartition(spark: SparkSession, path: String, topic: String,
      date: String, targetBytes: Long = 128L * 1024 * 1024): Int = {
    val part = new Path(path, partDir(topic, date))
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(part)) return 0
    val (files, nOut) = layout(fs, part, targetBytes)
    if (nOut >= files.length) return files.length // already compact
    compact(spark, path, Seq((relOf(part), files, nOut)))
    nOut
  }

  /** A partition's data files and the `ceil(bytes / targetBytes)` file
    * count compaction rewrites them into; the partition is fragmented
    * when that count is below its file count. */
  private def layout(fs: org.apache.hadoop.fs.FileSystem, part: Path,
      targetBytes: Long): (Seq[FileStatus], Int) = {
    val files = dataFiles(fs, part)
    (files, math.max(1,
      math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt))
  }

  /** Compact fragmented partitions, each given as (path relative to the
    * root, snapshot files, target file count): the union of each
    * partition's files, repartitioned to its count, through [[rewrite]]. */
  private def compact(spark: SparkSession, path: String,
      parts: Seq[(String, Seq[FileStatus], Int)]): Unit = {
    val nOut = parts.map(p => p._1 -> p._3).toMap
    rewrite(spark, path, parts.map(p => p._1 -> p._2), ".compact-",
        "compact") { (schema, group) =>
      group.map { case (rel, files) =>
        readFiles(spark, path, schema, files).repartition(nOut(rel))
      }.reduce(_ union _)
    }
  }

  /**
   * K3 — automatic rollover conditions (reference README.md:14: "define
   * some rollover conditions so the data doesn't grow indefinitely").
   * ES-side rollover rolls the ACTIVE index when it exceeds max_age /
   * max_size and prunes old indices; in the (topic, date)-partitioned
   * changelog the "new index per period" half happens by construction,
   * so the conditions reduce to one sweep over partitions:
   *
   *  - AGE: [[dropPartitionsBefore]] `cutoff` — metadata-only, no data
   *    rewrite;
   *  - SIZE/SHAPE: every surviving partition with more files than
   *    `ceil(bytes / targetBytes)` is compacted to that count, all of
   *    them in one staged write per topic payload schema (see
   *    [[rewrite]]). Spark runs the partitions' rewrites as tasks of
   *    that write, so the cluster stays full without a driver thread
   *    per partition.
   *
   * Idempotent: a second sweep with the same arguments is a no-op. A
   * failed sweep leaves the partitions it committed compacted and the
   * rest as they were; a re-run, or [[recoverStaging]], finishes it.
   * Returns (droppedPartitions, compactedPartitions).
   */
  def rollIfNeeded(spark: SparkSession, path: String, cutoff: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val dropped = dropPartitionsBefore(spark, path, cutoff)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (dropped, 0)
    val fragmented = for {
      part <- partitions(fs, root)
      (files, nOut) = layout(fs, part, targetBytes)
      if nOut < files.length
    } yield (relOf(part), files, nOut)
    if (fragmented.nonEmpty) compact(spark, path, fragmented)
    (dropped, fragmented.size)
  }

  /**
   * K3 — retention: drop date partitions strictly older than `cutoff`, a
   * `yyyy-MM-dd` date (anything else throws `IllegalArgumentException`).
   * The reference's "define some rollover conditions" (README.md:14)
   * becomes an O(#partitions) filesystem operation — no records are read
   * or rewritten, which is the only retention strategy that survives
   * 100 TB. Retention by age keeps the rows with a null timestamp
   * (`date=__HIVE_DEFAULT_PARTITION__`): they have no age, and only
   * erasure ([[forgetKeys]]) removes them.
   */
  def dropPartitionsBefore(spark: SparkSession, path: String, cutoff: String): Int = {
    val limit =
      try java.time.LocalDate.parse(cutoff)
      catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"retention cutoff '$cutoff' is not a yyyy-MM-dd date", e)
      }
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val old = partitions(fs, root).filter { part =>
      val date = part.getName.stripPrefix("date=")
      date != ExternalCatalogUtils.DEFAULT_PARTITION_NAME &&
        java.time.LocalDate.parse(date).isBefore(limit)
    }
    old.foreach(fs.delete(_, true))
    old.size
  }
}
