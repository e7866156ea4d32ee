package graft

/**
 * Benchmark main. Runs every `SparkEntry.queries` entry, in name order
 * before each pass's shuffle, against `SPARK_GRAFT_SF_DIR` (default
 * sf0.1) and prints ONE JSON line:
 * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
 *
 * Each query is forced end-to-end with a `noop` write (count() alone can
 * skip projection work). One untimed warm-up of a small query amortizes
 * classloading/codegen JIT; each query is then timed once per PASS over
 * the whole list — three passes, each in a different shuffled order —
 * and the per-query MIN across passes is reported. Min-of-adjacent-runs
 * (the previous scheme) is not robust: one multi-second contention
 * window on the host inflates BOTH back-to-back samples of whichever
 * queries it lands on (r4's x22/x23/x24 were consecutive in run order
 * and "regressed" 3-5x together with zero code change). With interleaved
 * shuffled passes the same window hits different queries each pass and
 * the min discards it.
 *
 * DRIFT, ADJUDICATED (round 8; movement table in BENCH_ADJUDICATION.md):
 * the r5->r6 (+13%) and r6->r7 (+17%) total drifts — with zero code
 * diff on the moved queries — are HOST CONTENTION the min-of-3 did not
 * fully discard, not regressions: an idle-host rerun of the identical
 * r7 binary/list recovered the unchanged-query median to 0.89x of r7
 * (20/69 unchanged queries slower than r7, vs 57/71 "slower" in r7's
 * drift), and every unchanged >30% mover sits in the sub-second band
 * where the fixed ~0.2-0.5 s per-job overhead dominates (BENCH_CURVE's
 * noise floor). Cross-round totals therefore carry an environment error
 * bar of roughly +-15%; per-query comparisons below ~1 s are noise
 * unless they reproduce on an idle host. The expensive iterative CC
 * family gets 5 samples (2 extra, interleaved into the shuffled passes)
 * since a single contention window costs it the most absolute seconds.
 */
object Bench {

  /** Iterative connected-components queries: the most expensive family,
    * sampled 5x (3 passes + 2 extra rides shuffled inside the first two
    * passes) so one contention window can't own their min. */
  private val ccFamily: Set[String] =
    Set("x21_dup_clusters", "x26_dup_clusters_stars", "x34_keep_best")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated entry names to bench instead of
    // every entry (scaling probes over subsets, e.g. the sf1 probe)
    val picked = args.headOption.map(_.split(",").toSeq.map(_.trim)
      .filter(_.nonEmpty)).getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = Session.builder().getOrCreate()

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up (untimed): JIT + codegen + parquet footers for both the
    // relational and the events-pipeline read paths
    run("q2_topk"); run("kq2_search_key")

    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (pass <- 0 until 3) {
      // deterministic per-pass shuffle — different adjacency each pass;
      // the CC family's 2 extra samples (min-of-5) ride INSIDE the first
      // two shuffled passes rather than back-to-back after them, so one
      // contention window can't own all their extra samples either
      val extra = if (pass < 2) ccFamily.toList else Nil
      val order = new scala.util.Random(42L + pass)
        .shuffle(picked ++ extra.filter(picked.contains))
      order.foreach(n => samples(n) ::= run(n))
    }
    val results = picked.map { n =>
      val ok = samples(n).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
