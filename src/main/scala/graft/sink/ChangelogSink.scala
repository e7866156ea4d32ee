package graft.sink

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

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
   * The COMMIT PRIMITIVE every staged swap (compaction, erasure,
   * recovery) is built on, and the one place its filesystem assumption
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
   *  - The write is staged in its own dot-dir and its files renamed in:
   *    Spark's committer shares one `_temporary` dir per output path, so
   *    two plain appends to one table at once can fail each other. A
   *    failed append may leave part of its rows stored; a retry stores
   *    the rest, once. A killed one leaves an `.append-*` dir that
   *    readers skip and [[recoverStaging]] deletes.
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
    val staging = new Path(root, s".append-${java.util.UUID.randomUUID()}")
    try {
      fresh.write.partitionBy("topic", "date").parquet(staging.toString)
      for {
        topicDir <- fs.listStatus(staging) if topicDir.isDirectory
        dateDir <- fs.listStatus(topicDir.getPath) if dateDir.isDirectory
        part = new Path(root,
          s"${topicDir.getPath.getName}/${dateDir.getPath.getName}")
        f <- fs.listStatus(dateDir.getPath) if isDataFile(f)
      } {
        fs.mkdirs(part)
        CommitOps.renameOrThrow(fs, f.getPath,
          new Path(part, f.getPath.getName), "move-staged", "append")
      }
    } finally fs.delete(staging, true)
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
  def read(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    Tables.footerSchema(spark, path).fold(Tables.parquet(spark, path)) {
      data => spark.read.schema(data
        .add("topic", StringType).add("date", DateType)).parquet(path)
    }
  }

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
   *  2. rewrite — ONE job writing the kept rows of ALL hit partitions
   *     (partition-pruned read — untouched partitions are never even
   *     listed) to a dot-prefixed staging dir, `partitionBy(topic,
   *     date)`; reading while writing elsewhere is safe, no input file
   *     is touched;
   *  3. audit — rows_after comes from the STAGED parquet FOOTERS
   *     (record counts are free metadata; O(#files) driver reads, no
   *     third data pass) and rows_before = rows_after + rows_deleted;
   *  4. commit — per hit partition, the same hide-originals → move-staged
   *     → delete-hidden swap as [[compactPartition]]: O(#files) METADATA
   *     renames on the driver, zero further Spark jobs. A partition whose
   *     rows were ALL the subject's stages no output and its directory is
   *     simply removed.
   *
   * This is dynamic-partition-overwrite SEMANTICS (only partitions present
   * in the output — plus fully-erased ones — change) implemented with the
   * explicit swap, for two reasons: Spark's path-based writer refuses an
   * overwrite of a path in its own input (UNSUPPORTED_OVERWRITE.PATH,
   * regardless of `partitionOverwriteMode=dynamic` — verified on 4.1.2),
   * and its dynamic committer deletes matching partition directories at
   * commit with no hide/rollback phase. Atomicity trade-off: the swap is
   * atomic PER PARTITION (a reader never sees a partition missing or
   * duplicated rows; a crash mid-swap rolls that partition back) but NOT
   * across partitions — a crash between partition commits leaves some
   * partitions erased and some not. That is the same commit granularity
   * Spark's own dynamic overwrite has, and erasure is idempotent: a RETRY
   * re-discovers only the partitions still holding the key and finishes
   * the job (a fully-erased table returns an empty audit, no-op).
   * Concurrent appends to a HIT partition are pinned out by the same
   * snapshot rule as [[compactPartition]]: the rewrite reads and the
   * swap hides EXACTLY the files listed before the rewrite, so a file
   * appended mid-erasure is neither lost nor duplicated — but its rows
   * are not erased by THIS call (a retry re-discovers them). Appends to
   * other partitions are always safe.
   *
   * Returns the audit frame (topic, date, rows_before, rows_deleted,
   * rows_after) — the erasure receipt a compliance pipeline stores.
   */
  def forgetKey(spark: SparkSession, path: String, key: String)
      : DataFrame = {
    import org.apache.spark.sql.types._
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
    import org.apache.spark.sql.types._
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

  /** Shared erasure core (see [[forgetKey]] for the full protocol and
    * atomicity notes). Returns (per-partition audit sorted by (topic,
    * date), per-(key, partition) delete counts sorted by (key, topic,
    * date)). */
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
    // pin the SNAPSHOT once, before the rewrite reads anything — the
    // same append-safety pattern as [[compactPartition]]: the rewrite
    // reads exactly these files and the swap hides/deletes exactly these
    // files, so a file appended to a hit partition after this listing is
    // neither lost (it is never hidden) nor duplicated (it is never
    // read). Its rows are simply NOT erased — concurrent appends during
    // erasure remain unsupported, but the failure mode is now visible
    // non-erasure (a retry re-discovers the key), never silent loss.
    val snapshot: Map[(String, String), Seq[FileStatus]] =
      hits.map { case (t, d, _) =>
        (t, d) -> fs.listStatus(new Path(path, partDir(t, d)))
          // dot-files are NOT data: a crash mid-swap leaves hidden
          // .forgetting-*/.compacting-*.parquet leftovers, and feeding
          // one to spark.read as an EXPLICIT path (hidden-file filtering
          // of explicit roots is version-dependent) while the swap later
          // hides/deletes it could drop rows that were never rewritten
          .filter(isDataFile).toSeq
      }.toMap
    val snapshotFiles = hits.flatMap { case (t, d, _) =>
      snapshot((t, d)).map(_.getPath.toString) }
    val staging = new Path(path, s".forget-${System.nanoTime()}")
    // ONE staged write of the snapshot files' kept rows; basePath
    // restores the (topic, date) partition columns from the directory
    // names, typed by the table's schema. Natural input partitioning (no
    // repartition(1)) keeps the rewrite fully parallel. NULL keys are
    // never a subject: isin() is null for them, so keep on
    // coalesce(..., false)
    spark.read.schema(table.schema).option("basePath", path)
      .parquet(snapshotFiles: _*)
      .where(!coalesce(col("key").isin(keys: _*), lit(false)))
      .write.partitionBy("topic", "date")
      .mode("overwrite").parquet(staging.toString)
    // MANIFEST before any swap: staged layout, the hit-partition list,
    // the ORIGINAL (snapshot) file names and every staged file name. A
    // hard crash (process kill, no in-process rollback) can strand
    // partitions mid-swap; [[recoverStaging]] replays the commit
    // deterministically from this manifest. Its presence also marks the
    // staged write as COMPLETE (it is written strictly after the write
    // job returns) — a staging dir without one is discardable debris.
    val staged = hits.map { case (t, d, _) =>
      (t, d) -> stagedFiles(fs, new Path(staging, partDir(t, d)))
    }.toMap
    writeManifest(fs, staging, nested = true, hits.map { case (t, d, _) =>
      (partDir(t, d), snapshot((t, d)).map(_.getPath.getName),
        staged((t, d)).map(_.getPath.getName))
    })
    // parquet footers carry exact record counts — the audit's rows_after
    // is a metadata read per staged file, never a third data pass
    def footerRows(f: FileStatus): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(f, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    val audit = hits.map { case (topic, date, nDel) =>
      val part = new Path(path, partDir(topic, date))
      val moveIn = staged((topic, date))
      val b = moveIn.map(footerRows).sum + nDel
      swap(fs, part, snapshot((topic, date)), moveIn, ".forgetting-",
        "forgetKeys").foreach(fs.delete(_, false))
      // fully erased AND nothing landed after the snapshot: drop the
      // dir (a post-snapshot append keeps the partition alive)
      if (b == nDel && fs.listStatus(part).isEmpty)
        fs.delete(part, true)
      (topic, date, b, nDel, b - nDel)
    }
    fs.delete(staging, true)
    (audit, keyHits.toIndexedSeq)
  }

  /** A visible parquet data file: not a dot-hidden swap leftover. */
  private def isDataFile(f: FileStatus): Boolean =
    f.isFile && f.getPath.getName.endsWith(".parquet") &&
      !f.getPath.getName.startsWith(".")

  /** The `part-` files a staged write left in `dir` (none if absent). */
  private def stagedFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-")).toSeq

  /** Phases 1 and 2 of the staged swap shared by erasure and compaction
    * (protocol on [[compactPartition]]): hide every original behind
    * `hidePrefix`, then move every staged file into `part`. Any failure
    * un-moves (else deletes) the staged files already moved in BEFORE it
    * restores the originals, so a partial staged copy never stays
    * visible beside them. Returns the hidden originals for the caller's
    * phase 3 delete; `note` is appended to rename failure messages. */
  private def swap(fs: org.apache.hadoop.fs.FileSystem, part: Path,
      originals: Seq[FileStatus], staged: Seq[FileStatus],
      hidePrefix: String, op: String, note: String = ""): Seq[Path] = {
    def renameOrThrow(src: Path, dst: Path, what: String): Unit =
      CommitOps.renameOrThrow(fs, src, dst, what + note, op)
    val hidden = scala.collection.mutable.ListBuffer.empty[(Path, Path)]
    val moved = scala.collection.mutable.ListBuffer.empty[(Path, Path)]
    try {
      originals.foreach { f =>
        val h = new Path(part, hidePrefix + f.getPath.getName)
        renameOrThrow(f.getPath, h, "hide-original")
        hidden += ((f.getPath, h))
      }
      staged.foreach { f =>
        val dst = new Path(part, f.getPath.getName)
        renameOrThrow(f.getPath, dst, "move-staged")
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

  /** Manifest written into a staging dir strictly AFTER its write job
    * succeeds and strictly BEFORE any swap rename. Line format:
    * `L nested|flat` (staged files under partition subdirs or at the
    * staging root), `P <partRel>`, `O <partRel>/<origName>` (the swap's
    * SNAPSHOT — recovery must never touch files appended after it),
    * `F <partRel>/<stagedName>`. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      staging: Path, nested: Boolean,
      parts: Seq[(String, Seq[String], Seq[String])]): Unit = {
    val out = fs.create(new Path(staging, ManifestName), true)
    try {
      out.write(s"L ${if (nested) "nested" else "flat"}\n".getBytes("UTF-8"))
      parts.foreach { case (rel, _, _) =>
        out.write(s"P $rel\n".getBytes("UTF-8")) }
      parts.foreach { case (rel, origs, _) =>
        origs.foreach(n => out.write(s"O $rel/$n\n".getBytes("UTF-8"))) }
      parts.foreach { case (rel, _, staged) =>
        staged.foreach(n => out.write(s"F $rel/$n\n".getBytes("UTF-8"))) }
    } finally out.close()
  }

  /**
   * HARD-CRASH RECOVERY for the staged swaps (erasure `.forget-*` and
   * compaction `.compact-*`), sweeping killed appends' `.append-*` too. The in-process rollback handles rename
   * FAILURES; a process kill mid-swap handles nothing — it can strand a
   * partition with its snapshot originals hidden (dot-prefixed,
   * invisible to readers) and the staged files only partially moved in.
   * Readers see missing rows until someone repairs it, and a blind
   * erasure RETRY cannot: the subject's rows are hidden from discovery.
   *
   * Recovery is a deterministic ROLL-FORWARD replay of the commit from
   * the staging manifest, per manifest partition:
   *
   *  - still-visible manifest ORIGINALS mean the move phase never
   *    started there (hide-all strictly precedes move): hide and drop
   *    them; files NOT in the manifest (appended after the snapshot)
   *    are never touched — the compaction append-safety rule survives
   *    the crash;
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
      val hidePrefix =
        if (staging.getName.startsWith(".forget-")) ".forgetting-"
        else ".compacting-"
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
   * partition into `ceil(bytes / targetBytes)` files, staged into a
   * dot-prefixed temp dir (invisible to concurrent readers — Spark's file
   * listing skips `.`/`_` paths) and swapped in with O(#files) renames.
   * Only this partition's bytes are rewritten; a whole-table compaction is
   * this per-partition job fanned out over partitions, so the unit of
   * work stays bounded no matter how large the table grows. Idempotent:
   * re-running on a compact partition is a no-op. Returns the resulting
   * file count.
   *
   * Crash/failure safety: the input is pinned to the file SNAPSHOT taken
   * up front (a file appended after the listing is neither read nor
   * removed, so it is never duplicated or lost), and the swap runs in
   * three checked phases — hide every original behind a dot-prefixed
   * rename (reversible, invisible to readers), move the staged files in,
   * then delete the hidden originals. Every rename result is checked
   * (HDFS/local `rename` reports failure by returning false, not by
   * throwing); any failure before the move completes first un-moves any
   * staged files already swapped in, then restores the hidden originals,
   * so the partition returns to exactly its pre-swap state — at no point
   * can a reader observe missing OR duplicated rows, and a retry
   * snapshots the original files only. Failures during the final
   * cleanup leave only dot-prefixed garbage that readers skip. Compaction
   * must still not run concurrently with another compaction of the SAME
   * partition (the hide phase would race); appends are safe.
   */
  def compactPartition(spark: SparkSession, path: String, topic: String,
      date: String, targetBytes: Long = 128L * 1024 * 1024): Int = {
    val part = new Path(s"$path/topic=$topic/date=$date")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(part)) return 0
    val files = fs.listStatus(part)
      // exclude crash-leftover dot-hidden files (.compacting-*.parquet):
      // they are pre-swap originals, not data to re-compact — run
      // recoverStaging first; reading one explicitly here would
      // duplicate its rows into the compacted output
      .filter(isDataFile)
    if (files.length <= 1) return files.length
    val nOut = math.max(1,
      math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
    if (nOut >= files.length) return files.length // already compact
    // read the SNAPSHOT file list, not the directory: a file appended
    // between the listing and the rewrite is then neither read (no
    // duplicate rows in the compacted output) nor hidden/deleted below
    // (it survives untouched). Leaf files hold exactly the data columns
    // (partition values live in the directory name).
    val df = Tables.parquet(spark, files.map(_.getPath.toString).toIndexedSeq: _*)
    val tmp = new Path(path,
      s".compact-$topic-$date-${System.nanoTime()}")
    df.repartition(nOut).write.mode("overwrite").parquet(tmp.toString)
    val staged = stagedFiles(fs, tmp)
    // manifest before any swap — [[recoverStaging]] can replay this
    // commit after a hard crash; O = the snapshot only, so files
    // appended after the listing stay untouched even through recovery
    writeManifest(fs, tmp, nested = false, Seq((s"topic=$topic/date=$date",
      files.map(_.getPath.getName).toSeq, staged.map(_.getPath.getName))))
    // tmp is left for inspection/retry if the swap rolls back
    swap(fs, part, files.toSeq, staged, ".compacting-",
      "compactPartition", s" (staged output left intact at $tmp)")
      .foreach(fs.delete(_, false))
    fs.delete(tmp, true)
    nOut
  }

  /**
   * K3 — automatic rollover conditions (reference README.md:14: "define
   * some rollover conditions so the data doesn't grow indefinitely").
   * ES-side rollover rolls the ACTIVE index when it exceeds max_age /
   * max_size and prunes old indices; in the (topic, date)-partitioned
   * changelog the "new index per period" half happens by construction,
   * so the conditions reduce to one sweep over partitions:
   *
   *  - AGE: date partitions strictly older than `cutoff` (yyyy-MM-dd)
   *    are dropped — metadata-only, no data rewrite;
   *  - SIZE/SHAPE: a surviving partition whose file count exceeds what
   *    `targetBytes` would produce is compacted via [[compactPartition]]
   *    (bounded per-partition unit of work).
   *
   * Idempotent: a second sweep with the same arguments is a no-op.
   * Returns (droppedPartitions, compactedPartitions).
   *
   * Fragmented partitions compact CONCURRENTLY (`maxConcurrent` driver
   * threads, each submitting its own Spark job — partitions are
   * independent, so the only rule, no concurrent compaction of the SAME
   * partition, is preserved by construction). A nightly sweep over a
   * 100 TB table with thousands of fragmented partitions is otherwise
   * serialized at one small rewrite job at a time; concurrent submission
   * keeps the cluster full while each unit of work stays bounded. A
   * failed partition aborts the sweep (its own rollback already ran; the
   * sweep is idempotent, so re-running finishes the rest).
   */
  def rollIfNeeded(spark: SparkSession, path: String, cutoff: String,
      targetBytes: Long = 128L * 1024 * 1024,
      maxConcurrent: Int = 4): (Int, Int) = {
    val dropped = dropPartitionsBefore(spark, path, cutoff)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (dropped, 0)
    val candidates = for {
      topicDir <- fs.listStatus(root).toSeq
      if topicDir.isDirectory && topicDir.getPath.getName.startsWith("topic=")
      dateDir <- fs.listStatus(topicDir.getPath).toSeq
      if dateDir.isDirectory && dateDir.getPath.getName.startsWith("date=")
      files = fs.listStatus(dateDir.getPath).filter(isDataFile)
      nOut = math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
      if files.length > 1 && nOut < files.length
    } yield (topicDir.getPath.getName.stripPrefix("topic="),
      dateDir.getPath.getName.stripPrefix("date="))
    if (candidates.isEmpty) return (dropped, 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrent, candidates.size)))
      .asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val done = scala.concurrent.Future.traverse(candidates) {
        case (topic, date) => scala.concurrent.Future {
          compactPartition(spark, path, topic, date, targetBytes)
        }
      }
      scala.concurrent.Await.result(done,
        scala.concurrent.duration.Duration.Inf)
      (dropped, candidates.size)
    } finally {
      // Await.result rethrows on the FIRST failed compaction while
      // sibling swaps may still be mid-flight on pool threads (and more
      // queued). Control must not return — to a retry, or to
      // recoverStaging — while a live swap runs, so: drop the queued
      // units (each is independent; the idempotent re-run picks them
      // up), then WAIT for in-flight compactions to finish their own
      // commit-or-rollback. On the success path all futures are done and
      // this is instant.
      pool.getQueue.clear()
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    }
  }

  /**
   * K3 — retention: drop date partitions strictly older than `cutoff`
   * (yyyy-MM-dd). The reference's "define some rollover conditions"
   * (README.md:14) becomes an O(#partitions) filesystem operation — no
   * records are read or rewritten, which is the only retention strategy
   * that survives 100 TB.
   */
  def dropPartitionsBefore(spark: SparkSession, path: String, cutoff: String): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    var dropped = 0
    for (topicDir <- fs.listStatus(root) if topicDir.isDirectory) {
      for (dateDir <- fs.listStatus(topicDir.getPath) if dateDir.isDirectory) {
        val name = dateDir.getPath.getName // date=yyyy-MM-dd
        if (name.startsWith("date=") && name.stripPrefix("date=") < cutoff) {
          fs.delete(dateDir.getPath, true)
          dropped += 1
        }
      }
    }
    dropped
  }
}
