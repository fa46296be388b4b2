package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Every micro-batch's progress, from the public listener API. Registered
  * in traced and untraced runs alike: event latency is read from it.
  */
final class ProgressLog extends StreamingQueryListener {
  private val log = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    log.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of the batches that read data, in batch order (and so in
    * offset order, as [[Stats.attribute]] needs).
    */
  def dataBatches: IndexedSeq[StreamingQueryProgress] =
    log.asScala.toIndexedSeq.filter { p =>
      p.sources.nonEmpty &&
        Stats.offsetOf(p.sources.head.endOffset) > Stats.offsetOf(p.sources.head.startOffset)
    }.sortBy(_.batchId)

  def commits: IndexedSeq[Stats.Commit] = dataBatches.map(ProgressLog.commit)

  /** Waits until a batch that ends at or beyond `offset` has reported
    * progress (listener delivery is asynchronous). False on timeout.
    */
  def awaitOffset(offset: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = log.asScala.exists(p => p.sources.nonEmpty &&
      Stats.offsetOf(p.sources.head.endOffset) >= offset)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
    done
  }

  /** Waits until `n` data batches have reported progress. */
  def awaitBatches(n: Int, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (dataBatches.size < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
    dataBatches.size >= n
  }
}

object ProgressLog {
  def duration(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  def commit(p: StreamingQueryProgress): Stats.Commit = {
    val trigger = duration(p, "triggerExecution")
    Stats.Commit(p.batchId, Stats.offsetOf(p.sources.head.startOffset),
      Stats.offsetOf(p.sources.head.endOffset),
      java.time.Instant.parse(p.timestamp).toEpochMilli + trigger, trigger)
  }
}

/** Scheduler and executor events, from a public `SparkListener`. Only
  * registered in the traced run.
  */
final class SparkTrace extends SparkListener {
  import SparkTrace._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[StageInfo]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map("batch-" + _)
      .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("none")
    jobs.add(Job(e.jobId, e.time, op, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def mm(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    val run = mm(_.executorRunTime)
    val overhead = run + mm(_.executorDeserializeTime) + mm(_.resultSerializationTime) +
      (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L)
    tasks.add(Task(e.stageId, mm(_.executorCpuTime), run,
      mm(_.jvmGCTime), math.max(0L, i.duration - overhead),
      mm(_.shuffleReadMetrics.totalBytesRead), mm(_.shuffleWriteMetrics.bytesWritten),
      mm(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      e.reason != org.apache.spark.Success))
  }
}

object SparkTrace {
  final case class Job(id: Int, startMs: Long, op: String, stageIds: Seq[Int])
  final case class Task(stageId: Int, cpuNs: Long, runMs: Long, gcMs: Long, schedulerDelayMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, failed: Boolean)
}

/** File-scan SQL metrics of every executed query, from a public
  * `QueryExecutionListener`. Only registered in the traced run.
  */
final class ScanTrace extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import ScanTrace.Scan
  val scans = new ConcurrentLinkedQueue[Scan]()
  @volatile private var open = true

  /** Stops recording once `graceMs` has passed for callbacks still in
    * flight, so the correctness checks' own scans are not counted.
    */
  def close(graceMs: Long): Unit = { Thread.sleep(graceMs); open = false }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (open) {
    val found = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    if (found.nonEmpty) {
      def metric(name: String) =
        found.flatMap(_.metrics.get(name)).map(_.value).sum
      scans.add(Scan(System.currentTimeMillis(), metric("numFiles"),
        metric("filesSize"), metric("scanTime") + metric("metadataTime")))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object ScanTrace {
  final case class Scan(endMs: Long, files: Long, bytes: Long, scanMs: Long)
}

/** Janino compile count and time so far, from Spark's public codegen
  * metrics.
  */
object Codegen {
  final case class Mark(compiles: Long, compileNs: Long)
  def mark(): Mark = Mark(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** Live heap: heap in use right after a full collection. The window's
  * memory figure is the larger of the live heap at its open and at its
  * close; sampling heap use in between would mostly measure how full the
  * young generation happened to be.
  */
object LiveHeap {
  def mb(): Double = {
    // the second collection also reclaims what the first one handed to
    // Spark's cleaner (broadcast and shuffle state of finished jobs)
    System.gc()
    Thread.sleep(100)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

/** The machine a run measured on. */
object Host {
  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Cumulative steal ticks (the 8th value of /proc/stat's cpu line); 0
    * where the file is unreadable.
    */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  def bootId: String =
    try {
      val src = scala.io.Source.fromFile("/proc/sys/kernel/random/boot_id")
      try src.mkString.trim finally src.close()
    } catch { case _: Exception => "unknown" }

  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Wall-clock time the JVM started, in epoch ms. */
  def processStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
