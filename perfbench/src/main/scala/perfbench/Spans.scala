package perfbench

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.streaming.StreamingQueryProgress

import Stats.Span

/** The traced run's span tree: workload → op (a micro-batch, a dashboard
  * request or a generator block) → sink call → Spark job → stage. Spans of
  * one op share its id: `batch-<n>` from the micro-batch's
  * `streaming.sql.batchId` job property, or the job group the client sets
  * per request. Built from the benchmark's own records and Spark's public
  * listeners after the run, then written out as JSON lines.
  */
object Spans {
  val Layers: Seq[String] = Seq("workload", "gen", "stream", "race", "curation", "dashboard",
    "spark.job", "spark.stage")

  private val Ms = 1000000L

  def build(ws: Long, we: Long, sinkLayer: String, batches: Seq[StreamingQueryProgress],
      requests: Seq[Workloads.Request], blocks: Seq[OpenLoop.Block],
      jobs: Seq[SparkTrace.Job], jobEnds: Map[Int, Long], stages: Seq[StageInfo]): Seq[Span] = {
    var next = 0L
    def id(): Long = { next += 1; next }
    val root = Span(id(), 0L, "workload", "window", "workload", ws * Ms, we * Ms)
    val gen = blocks.map(b =>
      Span(id(), root.id, "gen", "addData", s"block-${b.offset}", b.callMs * Ms, b.doneMs * Ms))
    // a batch's phases run in a fixed order, so its sink call ends where
    // offset commit begins: at commit time minus commitOffsets
    val batchSpans = batches.flatMap { p =>
      val c = ProgressLog.commit(p)
      val op = s"batch-${p.batchId}"
      val batch = Span(id(), root.id, "stream", "micro-batch", op,
        (c.commitMs - c.triggerMs) * Ms, c.commitMs * Ms)
      val sinkEnd = c.commitMs - ProgressLog.duration(p, "commitOffsets")
      val sink = Span(id(), batch.id, sinkLayer, "addBatch", op,
        (sinkEnd - ProgressLog.duration(p, "addBatch")) * Ms, sinkEnd * Ms)
      Seq(batch, sink)
    }
    val requestSpans = requests.map(r =>
      Span(id(), root.id, "dashboard", r.kind, r.group, r.startMs * Ms, r.endMs * Ms))
    val opParent: Map[String, Long] =
      (batchSpans.filter(_.layer == sinkLayer) ++ requestSpans).map(s => s.op -> s.id).toMap
    val jobSpans = jobs.map { j =>
      val end = jobEnds.getOrElse(j.id, j.startMs)
      Span(id(), opParent.getOrElse(j.op, root.id), "spark.job", s"job-${j.id}", j.op,
        j.startMs * Ms, end * Ms)
    }
    val jobOfStage = jobs.zip(jobSpans).flatMap { case (j, s) => j.stageIds.map(_ -> s) }
      .groupBy(_._1).map { case (k, v) => k -> v.head._2 }
    val stageSpans = stages.flatMap { s =>
      for {
        job <- jobOfStage.get(s.stageId)
        a <- s.submissionTime
        b <- s.completionTime
      } yield Span(id(), job.id, "spark.stage", s"stage-${s.stageId}", job.op, a * Ms, b * Ms)
    }
    Seq(root) ++ gen ++ batchSpans ++ requestSpans ++ jobSpans ++ stageSpans
  }

  def write(spans: Seq[Span], path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.render(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}
