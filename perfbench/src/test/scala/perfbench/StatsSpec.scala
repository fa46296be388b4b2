package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats._

class StatsSpec extends AnyFunSuite {

  private def ramp(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("percentile is nearest rank, reported with its sample count") {
    val p = percentile(ramp(10), 50)
    assert(p == Pct(5.0, 50.0, 10))
    assert(percentile(ramp(4), 100).value == 4.0)
    assert(percentile(Seq(7.0), 1).value == 7.0)
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("tail keeps the wanted percentile when ten samples lie beyond it") {
    val p = tail(ramp(1000), 99)
    assert(p.value == 990.0)
    assert(p.pct == 99.0)
    assert(p.n == 1000)
    assert(p.beyond == 10)
  }

  test("tail falls back to the highest percentile with ten samples beyond it") {
    val p = tail(ramp(500), 99)
    assert(p.value == 490.0)
    assert(p.pct == 98.0)
    assert(p.n == 500)
    assert(p.beyond == 10)
    val q = tail(ramp(100), 90)
    assert(q.value == 90.0 && q.beyond == 10)
  }

  test("tail with ten samples or fewer is flagged by fewer than ten beyond") {
    val p = tail(ramp(10), 99)
    assert(p.value == 1.0)
    assert(p.beyond < 10)
    assert(tail(Seq(4.0), 99).beyond == 0)
  }

  test("offsets parse from the progress JSON; null means before the first batch") {
    assert(offsetOf(null) == -1L)
    assert(offsetOf("null") == -1L)
    assert(offsetOf(" 42 ") == 42L)
  }

  test("an event belongs to the batch whose (start, end] offset range holds it") {
    val commits = IndexedSeq(
      Commit(0, -1, 3, 1000, 100), Commit(1, 3, 7, 2000, 100), Commit(2, 7, 8, 3000, 100))
    assert(attribute(0, commits).map(_.batchId).contains(0L))
    assert(attribute(3, commits).map(_.batchId).contains(0L))
    assert(attribute(4, commits).map(_.batchId).contains(1L))
    assert(attribute(7, commits).map(_.batchId).contains(1L))
    assert(attribute(8, commits).map(_.batchId).contains(2L))
    assert(attribute(9, commits).isEmpty)
    assert(attribute(0, IndexedSeq.empty).isEmpty)
  }

  test("attribution leaves events of a gap between batches unattributed") {
    val commits = IndexedSeq(Commit(0, -1, 3, 1000, 100), Commit(1, 5, 7, 2000, 100))
    assert(attribute(4, commits).isEmpty)
    assert(attribute(6, commits).map(_.batchId).contains(1L))
  }

  test("covered time is the union of child intervals clipped to the parent") {
    assert(covered(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L)
    assert(covered(0, 100, Seq((-5L, 5L), (100L, 110L))) == 5L)
    assert(covered(0, 100, Nil) == 0L)
    assert(covered(0, 100, Seq((0L, 100L), (10L, 20L))) == 100L)
  }

  test("self time is duration minus the part children cover") {
    val parent = Span(1, 0, "stream", "batch", "batch-0", 0, 100)
    val kids = Seq(Span(2, 1, "race", "addBatch", "batch-0", 40, 90),
      Span(3, 1, "race", "addBatch", "batch-0", 60, 95))
    assert(selfNs(parent, kids) == 45L)
  }

  test("self time sums per layer over a span tree") {
    val spans = Seq(
      Span(1, 0, "workload", "window", "w", 0, 1000),
      Span(2, 1, "stream", "micro-batch", "batch-0", 0, 400),
      Span(3, 2, "race", "addBatch", "batch-0", 100, 350),
      Span(4, 3, "spark.job", "job-0", "batch-0", 120, 300),
      Span(5, 4, "spark.stage", "stage-0", "batch-0", 130, 290),
      Span(6, 1, "stream", "micro-batch", "batch-1", 500, 700))
    val self = selfByLayer(spans)
    assert(self("workload") == 1000L - 400L - 200L)
    assert(self("stream") == (400L - 250L) + 200L)
    assert(self("race") == 250L - 180L)
    assert(self("spark.job") == 180L - 160L)
    assert(self("spark.stage") == 160L)
    assert(self.values.sum == 1000L)
  }
}
