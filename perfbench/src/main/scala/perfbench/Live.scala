package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The open-loop generator: one thread that hands `items` to `ms` on a
  * fixed schedule (item `i` is due at `startMs + i / rate`), whatever the
  * engine does. Each `addData` call is one block; its `MemoryStream` offset
  * attributes the block's items to the batch that commits them.
  */
final class OpenLoop[A](ms: MemoryStream[A], items: IndexedSeq[A], rate: Double)
    extends Thread("perfbench-gen") {
  setDaemon(true)
  import OpenLoop.Block

  val blocks = new ConcurrentLinkedQueue[Block]()
  @volatile var startMs: Long = 0L
  @volatile var sent: Int = 0
  @volatile var failure: Option[Throwable] = None
  @volatile private var stopping = false

  def dueMs(i: Int): Double = startMs + i * 1000.0 / rate

  /** The first item due at or after wall time `t`. */
  def firstDue(t: Long): Int = math.ceil((t - startMs) * rate / 1000.0).toInt

  def finish(): Unit = { stopping = true; join() }

  override def start(): Unit = {
    startMs = System.currentTimeMillis()
    super.start()
  }

  override def run(): Unit = try {
    val startNs = System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
    while (!stopping && sent < items.size) {
      val due = math.min(items.size.toLong,
        ((System.nanoTime() - startNs) * rate / 1e9).toLong + 1).toInt
      if (due > sent) {
        val callMs = System.currentTimeMillis()
        val off = Stats.offsetOf(ms.addData(items.slice(sent, due)).json())
        blocks.add(Block(off, sent, due - sent, callMs, System.currentTimeMillis()))
        sent = due
      }
      Thread.sleep(OpenLoop.TickMs)
    }
  } catch { case t: Throwable => failure = Some(t) }
}

object OpenLoop {
  /** The generator's polling period; items due within one tick share a block. */
  val TickMs = 10L

  /** One `addData` call: its offset, the items it carried and when it ran. */
  final case class Block(offset: Long, first: Int, count: Int, callMs: Long, doneMs: Long)
}

/** What one live run measured, before any metric is derived. */
final case class LiveRun(
    windowStartMs: Long, windowEndMs: Long, drainEndMs: Long,
    firstItem: Int, lastItem: Int,
    latenciesMs: IndexedSeq[Double], queueWaitsMs: IndexedSeq[Double], uncommitted: Int,
    throughput: Double, lateMaxMs: Double, heapPeakMb: Double, stealPerSec: Double,
    windowBatches: IndexedSeq[StreamingQueryProgress], allBatches: IndexedSeq[StreamingQueryProgress],
    blocks: IndexedSeq[OpenLoop.Block], setupCodegen: Codegen.Mark,
    windowCodegen: Codegen.Mark, sent: Int)

/** The shared life of a live workload: warm up, measure a fixed window
  * while the generator keeps offering load, drain, stop.
  */
object Live {
  /** Longest the run waits for warm-up, or for the window's last item to commit. */
  val WaitLimitMs: Long = 90000L

  /** Runs `query` fed by `gen`. Warm-up ends once `warmBatches` data
    * batches have committed; the window is the next `seconds`.
    * Drain lasts until the batch holding the window's last item commits;
    * the generator keeps offering load until then, so the drain is
    * measured under the same load as the window.
    */
  def run[A](query: StreamingQuery, progress: ProgressLog, gen: OpenLoop[A],
      seconds: Int, warmBatches: Int): LiveRun = {
    gen.start()
    require(progress.awaitBatches(warmBatches, WaitLimitMs),
      s"warm-up: $warmBatches batches did not commit within ${WaitLimitMs / 1000} s " +
        s"(query: ${query.exception.map(_.getMessage).getOrElse("running")})")
    // both heap readings are taken just after a commit, between batches
    val heapOpen = LiveHeap.mb()
    val ws = System.currentTimeMillis()
    Phase("warm-up done, window opens")
    val setupCodegen = Codegen.mark()
    val steal0 = Host.stealTicks()
    val we = ws + seconds * 1000L
    val rest = we - System.currentTimeMillis()
    if (rest > 0) Thread.sleep(rest)
    val stealPerSec = (Host.stealTicks() - steal0) / seconds.toDouble

    val firstItem = gen.firstDue(ws)
    val lastItem = gen.firstDue(we) - 1
    val deadline = System.currentTimeMillis() + WaitLimitMs
    while (gen.sent <= lastItem && gen.failure.isEmpty && gen.isAlive &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    val lastBlock = gen.blocks.asScala.find(b => b.first <= lastItem && lastItem < b.first + b.count)
    lastBlock.foreach(b => progress.awaitOffset(b.offset, deadline - System.currentTimeMillis()))
    val windowCodegen = Codegen.mark()
    Phase("window drained")
    progress.awaitBatches(progress.dataBatches.size + 1, WaitLimitMs)
    val heapPeakMb = math.max(heapOpen, LiveHeap.mb())
    gen.finish()
    gen.failure.foreach(t => throw new IllegalStateException("generator failed", t))
    query.processAllAvailable()
    val blocks = gen.blocks.asScala.toIndexedSeq
    blocks.lastOption.foreach(b => progress.awaitOffset(b.offset, WaitLimitMs))
    query.stop()
    Phase("query stopped")

    val all = progress.dataBatches
    val commits = all.map(ProgressLog.commit)
    val lat = IndexedSeq.newBuilder[Double]
    val wait = IndexedSeq.newBuilder[Double]
    var uncommitted = 0
    var lateMax = 0.0
    var drainEnd = we
    blocks.foreach { b =>
      val lo = math.max(b.first, firstItem)
      val hi = math.min(b.first + b.count - 1, lastItem)
      if (lo <= hi) {
        lateMax = math.max(lateMax, b.callMs - gen.dueMs(b.first))
        Stats.attribute(b.offset, commits) match {
          case Some(c) =>
            drainEnd = math.max(drainEnd, c.commitMs)
            (lo to hi).foreach { i =>
              val l = c.commitMs - gen.dueMs(i)
              lat += l
              wait += l - c.triggerMs
            }
          case None => uncommitted += hi - lo + 1
        }
      }
    }
    val unsent = math.max(0, lastItem + 1 - gen.sent)
    val committed = all.zip(commits.map(_.commitMs))
    val (tpRows, tpMs) = {
      val startMs = committed.filter(_._2 <= ws).lastOption.map(_._2).getOrElse(ws)
      val in = committed.filter { case (_, c) => c > startMs && c <= drainEnd }
      (in.map(_._1.numInputRows).sum.toDouble, (drainEnd - startMs).toDouble)
    }
    val windowBatches = committed.filter { case (_, c) => c > ws && c <= drainEnd }.map(_._1)
    LiveRun(ws, we, drainEnd, firstItem, lastItem, lat.result(), wait.result(),
      uncommitted + unsent, if (tpMs > 0) tpRows * 1000.0 / tpMs else 0.0,
      lateMax, heapPeakMb, stealPerSec, windowBatches, all, blocks,
      setupCodegen, windowCodegen, gen.sent)
  }
}
