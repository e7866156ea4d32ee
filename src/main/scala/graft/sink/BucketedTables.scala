package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Bucketed (co-located) tables — the shuffle-free join layout for the
 * repeated fact-fact joins of a 100 TB deployment. Writing both sides
 * bucketed by the join key into the same number of buckets lets Spark's
 * planner join them with ZERO exchanges: each task reads matching bucket
 * files from both tables. This is the batch analog of Kafka's
 * partition-aligned consumption the reference relies on
 * (docker-compose.yml:45-69 — one Connect task per topic partition).
 *
 * It also owns the stored-index artifacts of both index families (the
 * MinHash-LSH index of x59–x93, the IVF and IVF-PQ indexes of x61–x68,
 * x102, x131): their name suffix, their location and their readiness.
 */
object BucketedTables {

  /** Persist `df` as a bucketed table (parquet, no Hive needed) — managed
    * (warehouse-dir) by default, external at `path` when given. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, sortCol: Option[String] = None,
      path: Option[String] = None): Unit = {
    val w0 = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
    val w = path.fold(w0)(p => w0.option("path", p))
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
    // An overwrite of an external-path table can leave the session's
    // FileStatusCache holding the PREVIOUS part-file listing for `path`
    // (the drop+recreate makes a new InMemoryFileIndex over the same
    // path key), so a later `spark.table(table)` read fails with
    // FILE_NOT_EXIST on the replaced files. Refresh both keys.
    df.sparkSession.catalog.refreshTable(table)
    path.foreach(df.sparkSession.catalog.refreshByPath)
  }

  /** Stored-index name suffix for a corpus dir: the SANITIZED FULL PATH
    * (not a 32-bit hash — `dir.hashCode` could silently collide two
    * corpora into one table). */
  private[graft] def indexSuffix(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_|_$", "")

  /** Where the stored-index artifact `name` (a bucketed table or a side
    * parquet) lives. */
  private[graft] def indexPath(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_index/$name"

  /** Persists `df` as the stored-index table (or segment) `table` at
    * [[indexPath]], bucketed 8 ways on `bucketCol`. */
  private[graft] def writeIndex(df: DataFrame, table: String,
      bucketCol: String): Unit =
    writeBucketed(df, table, bucketCol, 8, path = Some(indexPath(table)))

  /** Runs `build` unless the stored index `table` is ready — registered,
    * with every side parquet in `sides` COMMITTED (`_SUCCESS` present), so
    * a missing or half-written side artifact means a rebuild, not a raw
    * path failure downstream — and returns `table`. */
  private[graft] def ensureIndex(spark: SparkSession, table: String,
      sides: String*)(build: => Any): String = {
    if (!spark.catalog.tableExists(table) ||
        !sides.forall(s => new java.io.File(indexPath(s), "_SUCCESS").exists()))
      build
    table
  }

  /** Join two same-bucketed tables on their bucket key. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(left)
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey))
  }
}
