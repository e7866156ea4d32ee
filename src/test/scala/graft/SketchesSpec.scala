package graft

import org.apache.spark.sql.functions._

import graft.ext.Sketches

/** Driver-side replays of the sketch laws: HLL registers + register-max
  * merge from an independent MessageDigest hash, and CMS's never-
  * undercount guarantee with genuinely colliding cells. Exact VALUES are
  * covered by the DuckDB oracle; these pin the algebra. */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def md5_32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
  }

  test("hll: per-source registers and the __all__ merge replay from an " +
      "independent driver-side hash; estimates follow the pinned formula") {
    val out = Sketches.hllCardinality(spark, sf)
      .where($"field" === "token")
      .select($"source", $"exact_distinct", $"v_zero", $"s_scaled")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val toks = graft.ingest.Tables.load(spark, sf, "documents")
      .select($"source", explode(split($"text", " ")).as("t"))
      .where(length($"t") > 0)
      .as[(String, String)].collect()
    // independent register build per source
    val regs = toks.groupBy(_._1).map { case (src, rows) =>
      val m = Array.fill(64)(0)
      for ((_, t) <- rows) {
        val h = md5_32(t); val j = (h % 64).toInt; val w = h / 64
        val rho = if (w == 0) 27 else 27 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > m(j)) m(j) = rho
      }
      src -> m
    }
    for ((src, m) <- regs) {
      val (_, exact, vz, ss) = out(src)
      assert(vz == m.count(_ == 0), src)
      assert(ss == m.map(v => 1L << (27 - v)).sum, src)
      assert(exact == toks.filter(_._1 == src).map(_._2).distinct.length)
    }
    // the merge law: __all__ register = max over per-source registers
    val allM = Array.tabulate(64)(j => regs.values.map(_(j)).max)
    val (_, _, vzAll, ssAll) = out("__all__")
    assert(vzAll == allM.count(_ == 0))
    assert(ssAll == allM.map(v => 1L << (27 - v)).sum)
  }

  test("sliding uniques: per-bucket merged registers replay from the " +
      "window's raw users; estimates track exact counts") {
    val out = SparkEntry.queries("kq65_sliding_uniques")(spark, sf)
      .select(unix_micros($"bucket"), $"exact_uniques", $"v_zero",
        $"s_scaled", $"hll_est")
      .as[(Long, Long, Long, Long, Double)].collect()
    val pairs = Pipeline.envelopeFlat(spark, sf)
      .select(unix_micros(date_trunc("hour", $"timestamp")), $"key")
      .distinct().as[(Long, String)].collect()
    val hourUs = 3600L * 1000000
    // replay three spread-out buckets fully
    for ((b, exact, vz, ss, est) <- Seq(out.head,
        out(out.length / 2), out.last)) {
      val users = pairs.filter(p =>
        p._1 >= b - 23 * hourUs && p._1 <= b).map(_._2).distinct
      assert(exact == users.length)
      val m = Array.fill(64)(0)
      for (u <- users) {
        val h = md5_32(s"uu:$u"); val j = (h % 64).toInt; val w = h / 64
        val rho = if (w == 0) 27
          else 27 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > m(j)) m(j) = rho
      }
      assert(vz == m.count(_ == 0))
      assert(ss == m.map(v => 1L << (27 - v)).sum)
      assert(est > 0.5 * exact && est < 2.0 * exact,
        s"estimate $est vs exact $exact")
    }
  }

  test("trailingDay refuses a session time zone that is not a fixed " +
      "whole-hour offset from UTC") {
    val rows = Seq("2024-01-01 05:00:00").toDF("t")
      .select(to_timestamp($"t").as("bucket"), lit("u").as("key"))
    val buckets = rows.select($"bucket".as("b"))
    for (tz <- Seq("UTC", "+02:00")) withSQLConf(
        "spark.sql.session.timeZone" -> tz) {
      assert(Sketches.trailingDay(rows, buckets, "key").count() == 1, tz)
    }
    for (tz <- Seq("+05:30", "Australia/Lord_Howe")) withSQLConf(
        "spark.sql.session.timeZone" -> tz) {
      val e = intercept[IllegalArgumentException](
        Sketches.trailingDay(rows, buckets, "key"))
      assert(e.getMessage.contains("whole-hour offset") &&
        e.getMessage.contains(tz), e.getMessage)
    }
  }

  test("cms: estimates never undercount, collisions genuinely occur, and " +
      "one probe's four cells replay driver-side") {
    val out = Sketches.cmsHeavyHitters(spark, sf)
      .select($"token", $"n_occ", $"cms_est", $"overcount")
      .as[(String, Long, Long, Long)].collect()
    assert(out.length == 10)
    assert(out.forall(r => r._4 >= 0 && r._3 == r._2 + r._4))
    assert(out.exists(_._4 > 0), "W=16 must force at least one collision")
    // replay the top token's estimate from raw occurrence counts
    val counts = graft.ingest.Tables.load(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("t"))
      .where(length($"t") > 0)
      .groupBy($"t").count().as[(String, Long)].collect().toMap
    val top = out.minBy(r => (-r._2, r._1))
    val est = (0 until 4).map { d =>
      val c = md5_32(s"cms$d:${top._1}") % 16
      counts.iterator
        .filter { case (t, _) => md5_32(s"cms$d:$t") % 16 == c }
        .map(_._2).sum
    }.min
    assert(est == top._3, top._1)
  }

  test("ddsketch: the bucket read-off is the exact order statistic's " +
      "bucket, the merge law holds, and the sketch is tiny") {
    import spark.implicits._
    def bucketOf(x: Long): Long = {
      val lg = math.floor(math.log(1.02) * 1e9).toLong
      (math.floor(math.log(x.toDouble) * 1e9).toLong + lg - 1) / lg
    }
    val rows = graft.ext.Sketches.ddSketchQuantiles(spark, sf)
      .as[(String, Int, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    for ((_, _, n, rank, bucket, exact, nBuckets) <- rows) {
      // the sketch quantile is exact in bucket space: the answered
      // bucket IS the bucket of the rank-th order statistic
      assert(bucket == bucketOf(exact))
      assert(rank >= 1 && rank <= n)
      // the memory story: a few dozen buckets summarize the group
      assert(nBuckets < n || n < 64, s"$nBuckets buckets for $n values")
    }
    // merge law: shard-segmented sketches summed bucket-wise equal the
    // direct sketch (replayed driver-side from raw values)
    val vals = graft.ingest.Tables.load(spark, sf, "documents")
      .select($"source", $"n_chars").as[(String, Long)].collect()
    val direct = vals.groupBy(_._1).view
      .mapValues(_.map(v => bucketOf(v._2)).groupBy(identity).view
        .mapValues(_.length.toLong).toMap).toMap
    for ((src, q, n, rank, bucket, _, _) <- rows if q == 99) {
      val sketch = direct(src)
      assert(n == sketch.values.sum)
      val cum = sketch.toSeq.sortBy(_._1)
        .scanLeft((0L, 0L)) { case ((_, c), (b, k)) => (b, c + k) }.drop(1)
      assert(cum.find(_._2 >= rank).map(_._1).contains(bucket))
    }
  }

  test("x111 kmv theta: small-set branch reads off exactly, exact " +
      "columns match a direct recount and obey inclusion-exclusion") {
    val rows = Sketches.kmvThetaSetOps(spark, sf)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows.keySet ==
      Set("click", "purchase", "intersection", "union"))
    // at sf0.001 every qualifying set is far below k = 64, so the
    // sketch IS the set and every estimate must be exact
    for ((s, (est, exact)) <- rows) assert(est == exact, s)
    // inclusion-exclusion on the exact legs
    assert(rows("click")._2 + rows("purchase")._2 ==
      rows("intersection")._2 + rows("union")._2)
    // direct recount of the membership definition
    val ev = graft.ingest.Tables.load(spark, sf, "events")
      .where($"event_type".isin("click", "purchase") && $"value" >= 150)
      .select($"event_type", $"user_id").as[(String, Long)].collect()
    val a = ev.collect { case ("click", u) => u }.toSet
    val b = ev.collect { case ("purchase", u) => u }.toSet
    assert(a.nonEmpty && b.nonEmpty && (a != b),
      "degenerate fixture: membership sets must differ")
    assert(rows("click")._2 == a.size && rows("purchase")._2 == b.size)
    assert(rows("intersection")._2 == (a & b).size)
    assert(rows("union")._2 == (a | b).size)
  }
}
