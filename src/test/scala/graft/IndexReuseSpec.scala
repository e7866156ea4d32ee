package graft

import graft.ext.{Dedup, Similarity}
import graft.sink.BucketedTables

/** x59's done-bar: the persisted signature index gives the SAME answer as
  * x57's inline recompute, and the query-time plan provably reads the
  * stored index on the corpus side — exactly one `documents` scan (the new
  * batch's own) and a bucketed read of the signature table. */
class IndexReuseSpec extends SparkSpec {

  test("index-reuse result is identical to inline incremental dedup") {
    val inline = Dedup.incrementalDedup(spark, sf).collect().toSeq
    val reused = Dedup.dedupIndexReuse(spark, sf).collect().toSeq
    assert(reused == inline)
    assert(reused.nonEmpty) // every planted doc rediscovers its source
  }

  test("query-time plan scans documents once and the index bucketed") {
    val df = Dedup.dedupIndexReuse(spark, sf)
    df.collect()
    // AQE's toString appends the "== Initial Plan ==" section, which would
    // double-count the scans — assert on the final plan only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // corpus side = the stored bucketed table, not a documents rescan
    assert("documents\\.parquet".r.findAllIn(plan).length == 1,
      s"expected exactly one documents scan (the new batch):\n$plan")
    assert(plan.contains("graft_minhash_index_"), plan)
    assert(plan.contains("Bucketed: true"),
      s"index side should be a bucketed scan:\n$plan")
  }

  test("IVF index-reuse result is identical to inline annIvf") {
    val inline = Similarity.annIvf(spark, sf).collect().toSeq
    val reused = Similarity.annIndexReuse(spark, sf).collect().toSeq
    assert(reused == inline)
    assert(reused.nonEmpty)
  }

  test("IVF query-time plan never scans embeddings") {
    val df = Similarity.annIndexReuse(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("embeddings.parquet"),
      s"query-time plan must read only the stored index:\n$plan")
    assert(plan.contains("graft_ivf_index_"), plan)
  }

  test("IVF+PQ probe equals the inline build+search; the probe plan " +
      "never scans embeddings") {
    val inline = Similarity.ivfPqSearch(spark, sf).collect().toSeq
    val probe = Similarity.ivfPqProbe(spark, sf)
    val probed = probe.collect().toSeq
    assert(probed == inline)
    assert(probed.nonEmpty)
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("embeddings.parquet"),
      s"probe plan must read only the stored index:\n$plan")
    assert(plan.contains("graft_ivfpq_index_"), plan)
  }

  test("IVF+PQ out-of-corpus serving: unseen queries assigned via the " +
      "persisted centroids; plan reads only stored artifacts") {
    import org.apache.spark.sql.functions._
    val serve = Similarity.ivfPqServe(spark, sf)
    val rows = serve.collect().toSeq
    // 10 queries x top-5, ranks dense from 1
    assert(rows.map(_.getLong(0)).distinct.sorted == (0L until 10L))
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getInt(4)).sorted == (1 to 5)) }
    // the derived query vectors are genuinely out-of-corpus: the mean of
    // two DISTINCT stored vectors equals neither (nor any other vector)
    val emb = graft.ingest.Tables.load(spark, sf, "embeddings")
      .orderBy(col("vec_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
    val stored = emb.map(_._2).toSet
    val qvecs = (0 until 10).map { i =>
      val a = emb(2 * i)._2; val b = emb(2 * i + 1)._2
      i.toLong -> a.zip(b).map { case (x, y) => (x + y) / 2 }
    }
    qvecs.foreach { case (i, q) =>
      assert(!stored.contains(q), s"query $i collides with a stored vector") }
    // persisted == trained: each query's bucket equals the argmax-cosine
    // assignment against FRESHLY trained centroids (independent replay of
    // the NearestCentroid math: 6dp HALF_UP, lower-index ties)
    val cents = Similarity.kmeansCentroids(emb2df(emb), 8, 2)
    def cos6(v: Seq[Double], c: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * c(i); na += v(i) * v(i); i += 1 }
      val nc = math.sqrt(c.map(x => x * x).sum)
      new java.math.BigDecimal(java.lang.Double.toString(
          dot / math.sqrt(na) / nc))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val gotBuckets = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    qvecs.foreach { case (i, q) =>
      val sims = cents.map(c => cos6(q, c))
      val want = sims.indexOf(sims.max).toLong
      assert(gotBuckets(i) == want,
        s"query $i: served bucket ${gotBuckets(i)} != trained argmax $want")
    }
    // serving reads ONLY the persisted index artifacts
    val plan = serve.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("embeddings.parquet"),
      s"serve plan must not rescan the corpus:\n$plan")
    assert(plan.contains("graft_ivfpq_index_"), plan)
  }

  test("IVF+PQ missing persisted artifact (stale pre-centroid index or a " +
      "partial ct write) triggers a rebuild, not a raw path failure") {
    val before = Similarity.ivfPqServe(spark, sf).collect().toSeq
    // THIS corpus dir's centroids only (the cache also holds other SFs'
    // artifacts; serving sf rebuilds just sf's suffix)
    val cts = Seq(new java.io.File(BucketedTables.indexPath(
      s"graft_ivfpq_ct_${BucketedTables.indexSuffix(sf)}")))
    assert(cts.forall(_.exists()),
      "expected a persisted centroids dir after serve")
    // simulate the pre-round-14 / crashed-write states: centroids gone
    cts.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    val rebuilt = Similarity.ivfPqServe(spark, sf).collect().toSeq
    assert(rebuilt == before)
    cts.foreach(ct => assert(new java.io.File(ct, "_SUCCESS").exists(),
      s"rebuild must re-persist committed centroids at $ct"))
    // an UNCOMMITTED dir (no _SUCCESS) counts as missing too
    cts.foreach(ct => new java.io.File(ct, "_SUCCESS").delete())
    val again = Similarity.ivfPqServe(spark, sf).collect().toSeq
    assert(again == before)
    cts.foreach(ct => assert(new java.io.File(ct, "_SUCCESS").exists()))
  }

  test("IVF append with its stored centroids missing or uncommitted " +
      "rebuilds the index, not a raw path failure") {
    val before = Similarity.annIndexAppend(spark, sf).collect().toSeq
    assert(before.nonEmpty)
    val ct = new java.io.File(BucketedTables.indexPath(
      s"graft_ivf_centroids_${BucketedTables.indexSuffix(sf)}"))
    assert(new java.io.File(ct, "_SUCCESS").exists(),
      s"expected committed centroids at $ct after the append")
    // centroids gone while the assignment table stays registered
    org.apache.commons.io.FileUtils.deleteDirectory(ct)
    assert(Similarity.annIndexAppend(spark, sf).collect().toSeq == before)
    assert(new java.io.File(ct, "_SUCCESS").exists(),
      s"rebuild must re-persist committed centroids at $ct")
    // an UNCOMMITTED dir (no _SUCCESS) counts as missing too
    new java.io.File(ct, "_SUCCESS").delete()
    assert(Similarity.annIndexAppend(spark, sf).collect().toSeq == before)
    assert(new java.io.File(ct, "_SUCCESS").exists())
  }

  private def emb2df(rows: Array[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
  }

  test("IVF segment append: stored-centroid assignment, global top-k " +
      "across segments; planted copies rediscovered at sim 1.0") {
    import org.apache.spark.sql.functions._
    val out = Similarity.annIndexAppend(spark, sf)
    // queries are every 7th vec (+2e6); those with source id % 35 == 0
    // have a verbatim copy in the appended segment (+1e6) — the GLOBAL
    // top-k must surface it at similarity 1.0
    val emb = graft.ingest.Tables.load(spark, sf, "embeddings")
    val n = emb.count()
    (0L until n by 35L).foreach { src =>
      val hits = out.where(col("query_id") === src + 2000000L &&
        col("cand_id") === src + 1000000L).collect()
      assert(hits.length == 1, s"query ${src + 2000000L} must rediscover " +
        s"its appended copy ${src + 1000000L}")
      assert(hits.head.getAs[Double]("sim") == 1.0)
    }
    // every query also sees its own corpus source at sim 1.0, rank <= 2
    val self = out.where(col("cand_id") === col("query_id") - 2000000L)
    assert(self.where(col("sim") =!= 1.0).count() == 0)
  }

  test("streaming index append: foreachBatch-built segments yield the " +
      "identical probe result as the batch append") {
    val streamed = Dedup.streamingIndexAppend(spark, sf).collect().toSeq
    val batch = Dedup.dedupIndexAppend(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("segment merge: probing the compacted index equals the " +
      "per-segment union, from ONE merged bucketed scan") {
    val appended = Dedup.dedupIndexAppend(spark, sf).collect().toSeq
    val merged = Dedup.dedupIndexMerge(spark, sf)
    val got = merged.collect().toSeq
    assert(got == appended) // compaction lost nothing
    assert(got.nonEmpty)
    val plan = merged.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // probe side is the planted batch (one documents scan); the stored
    // side is the SINGLE merged segment — not corpus + seg1
    assert(plan.contains("_merged1"), plan)
    assert(!plan.contains("_seg1]"),
      s"merged probe must not scan the pre-merge segment:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
  }
}
