package perfbench

/** Metrics every workload reports the same way. */
object Summary {

  /**
   * The end-to-end metrics, from untraced operations, given each kind of
   * operation's latencies: the geometric mean of the kinds' median
   * latencies, the time of one round of the unit of work at those medians
   * (one operation of each kind), and, over all samples, the median and
   * tail latency. A median per kind is not moved by one slow sample, nor
   * by the mix of kinds that the deadline cut off.
   */
  def endToEnd(out: Outcome, byKind: Seq[Seq[Double]]): Unit = {
    val medians = byKind.map(Stats.median)
    val all = byKind.flatten
    val (p, tail) = Stats.tail(all)
    out.put("op_p50_ms", Stats.median(all), "ms")
    out.put("op_tail_ms", tail, "ms")
    out.put("op_geomean_ms", Stats.geomean(medians), "ms")
    out.put("round_s", medians.sum / 1000, "s")
    out.details("op_samples") = all.size
    out.details("op_tail_percentile") = p
  }

  /**
   * Tracing overhead: for each operation that ran both traced and
   * untraced, its traced over untraced median latency; the geometric mean
   * of those ratios, minus one. Each operation is traced in one round and
   * untraced in the next, half of them in each order, so a JVM that is
   * still warming up biases half the ratios each way.
   */
  def overhead(out: Outcome, samples: Iterable[(Seq[Double], Seq[Double])]): Unit = {
    val ratios = samples.collect { case (t, u) if t.nonEmpty && u.nonEmpty =>
      Stats.median(t) / Stats.median(u) }.toSeq
    if (ratios.nonEmpty) out.put("trace.overhead_share", Stats.geomean(ratios) - 1, "share")
  }

  /** Share of the `op` spans' time that no layer span below them covers. */
  def spanShares(out: Outcome, ctx: Ctx, op: String): Unit = {
    val spans = ctx.tracer.spans.toSeq
    val self = Trace.selfTimes(spans)
    val ops = spans.filter(_.name == op)
    val total = ops.map(_.durNs).sum.toDouble
    out.put("trace.unattributed_share",
      if (total > 0) ops.map(s => self(s.id)).sum / total else 0.0, "share")
  }
}
