package perfbench

/** The benchmark's arithmetic: percentiles, event-to-batch attribution and
  * span self time. Pure functions, pinned by `StatsSpec`.
  */
object Stats {

  /** A reported percentile: its value, the percentile it really is, and
    * the number of samples it was taken from.
    */
  final case class Pct(value: Double, pct: Double, n: Int) {
    /** Samples strictly beyond the reported rank. */
    def beyond: Int = n - math.round(pct / 100.0 * n).toInt
  }

  /** Nearest-rank percentile (1-based rank `ceil(p/100 * n)`). */
  def percentile(values: Seq[Double], p: Double): Pct = {
    require(values.nonEmpty, "percentile of no samples")
    val s = values.sorted.toIndexedSeq
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    Pct(s(rank - 1), 100.0 * rank / s.size, s.size)
  }

  /** The tail percentile rule: `wanted` if at least ten samples lie beyond
    * it, otherwise the highest percentile that still has ten beyond it.
    * With ten samples or fewer there is no such percentile and the minimum
    * is returned with `beyond < 10`, so the caller can flag it.
    */
  def tail(values: Seq[Double], wanted: Double): Pct = {
    require(values.nonEmpty, "percentile of no samples")
    val s = values.sorted.toIndexedSeq
    val n = s.size
    val rank = math.ceil(wanted / 100.0 * n).toInt.max(1).min(n - 10).max(1)
    Pct(s(rank - 1), 100.0 * rank / n, n)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50).value

  /** One committed micro-batch as the progress API reports it: the
    * source's `(startOffset, endOffset]` range and the wall-clock commit
    * time (trigger start + trigger execution).
    */
  final case class Commit(batchId: Long, startOffset: Long, endOffset: Long,
      commitMs: Long, triggerMs: Long)

  /** The batch that committed the `MemoryStream` block with `offset`:
    * the one whose `(startOffset, endOffset]` holds it. `commits` must be
    * sorted by `endOffset`, which the micro-batch loop guarantees.
    */
  def attribute(offset: Long, commits: IndexedSeq[Commit]): Option[Commit] = {
    var lo = 0
    var hi = commits.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (commits(mid).endOffset < offset) lo = mid + 1 else hi = mid
    }
    if (lo < commits.size && commits(lo).startOffset < offset) Some(commits(lo))
    else None
  }

  /** A `MemoryStream` offset as the progress API prints it: a JSON long,
    * or null before the first batch.
    */
  def offsetOf(json: String): Long =
    if (json == null || json.trim.isEmpty || json.trim == "null") -1L
    else json.trim.toLong

  /** A span: a named interval of one layer, linked to the span that
    * caused it. Spans of one operation share `op`.
    */
  final case class Span(id: Long, parent: Long, layer: String, name: String,
      op: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Length of the union of `intervals`, each clipped to `[lo, hi]`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover.
    */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - covered(span.startNs, span.endNs,
      children.map(c => (c.startNs, c.endNs)))

  /** Self time summed per layer over a span forest. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}
