package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.Schemas
import graft.ops.F1Ops
import graft.streaming.{CorpusIngest, RaceIngest}

/** The workloads, by name. Each drives the library only through its public
  * entry points: `RaceIngest.startParquetSink`/`transform`,
  * `F1Ops.standings`/`podium`/`wins`/`winRate`/`enrichWithDim` and
  * `CorpusIngest.startCurationSink`.
  */
object Workloads {
  val all: Map[String, Ctx => Outcome] = Map(
    "race_live" -> race,
    "curation_live" -> curation)

  val RaceRate = 5000.0
  /** Requests the traced race run serves after its window. */
  val DashboardRequests = 12

  /** Trigger interval of the race sink. */
  val RaceTriggerMs = 500L
  /** Trigger interval of the curation sink. */
  val CurationTriggerMs = 3000L
  /** Data batches that must commit before the window opens. */
  val RaceWarmBatches = 10
  val CurationWarmBatches = 8
  /** Seconds of input generated beyond the window, for warm-up and drain. */
  val RaceSpareSeconds = 30
  val CurationSpareSeconds = 60
  val CurationRate = 100.0
  /** Time the scan listener gets to deliver the last traced query. */
  val ScanGraceMs = 500L
  /** Championship length the dashboard's win rate is taken over. */
  val SeasonRaces = 24

  // ------------------------------------------------------------------ race

  def driversDim(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      Gen.Drivers.map { case (n, name) =>
        Row(n, name, s"https://media.example/drivers/$n.png")
      }.asJava,
      Schemas.drivers)

  def race(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val msgs = Gen.raceMessages(ctx.seed, (RaceRate * (ctx.seconds + RaceSpareSeconds)).toInt)
    val feed = msgs.map(_.json)
    Phase("inputs generated")
    val drivers = driversDim(spark).cache()
    drivers.count()
    val out = ctx.dir("race-sink")
    val ms = MemoryStream[String](Host.cpus)
    val query = RaceIngest.startParquetSink(ms.toDF(), out, ctx.dir("race-checkpoint"),
      Trigger.ProcessingTime(RaceTriggerMs))
    val gen = new OpenLoop(ms, feed, RaceRate)
    val live = Live.run(query, ctx.progress, gen, ctx.seconds, RaceWarmBatches)
    // the dashboard layer, measured on the sink the run wrote: traced runs only
    val requests =
      if (ctx.trace) dashboard(spark, out, drivers, Gen.dashboardRequests(ctx.seed, DashboardRequests))
      else IndexedSeq.empty
    if (ctx.trace) Phase("dashboard served")
    ctx.scanTrace.foreach(_.close(ScanGraceMs))

    // correctness: every non-null-position message exactly once, and the
    // standings read back from the sink equal those of the same messages
    // as a static DataFrame
    val sent = msgs.take(live.sent)
    val sink = spark.read.parquet(out)
    val expected = sent.flatMap(m => m.position.map(p => s"${m.sessionKey}|${m.driver}|$p"))
    val (rows, keys, crcSum) = sink
      .agg(count(lit(1)), countDistinct(col("session_key"), col("driver_number")),
        sum(crc32(concat_ws("|", col("session_key"), col("driver_number"), col("position")))))
      .as[(Long, Long, Long)].head()
    ctx.check("race.exactly_once", rows == expected.size && keys == expected.size &&
      crcSum == expected.map(crc).sum)
    val sentFile = new java.io.File(ctx.dir("sent.jsonl"))
    java.nio.file.Files.write(sentFile.toPath, sent.map(_.json).asJava)
    val static = RaceIngest.transform(spark.read.text(sentFile.getPath))
    ctx.check("race.standings",
      F1Ops.standings(sink.drop("batch_id"), drivers, lit(SeasonRaces)).collect().toSeq ==
        F1Ops.standings(static, drivers, lit(SeasonRaces)).collect().toSeq)
    Phase("checks done")
    val sinkFiles = files(out).count(_.getName.endsWith(".parquet"))
    val parsed = live.allBatches.map(_.numInputRows).sum
    val layer = Seq(
      ("race.rows_parsed", parsed.toDouble, "rows"),
      ("race.rows_committed", rows.toDouble, "rows"),
      ("race.keep_ratio", if (parsed > 0) rows.toDouble / parsed else 0.0, "1"),
      ("race.sink_files", sinkFiles.toDouble, "count")) ++
      dashboardMetrics(requests)
    outcome(ctx, live, RaceRate, sinkLayer = "race", requests, layer,
      Map("sent" -> live.sent, "rows_committed" -> rows, "sink_files" -> sinkFiles))
  }

  /** The closed-loop dashboard client: one request at a time, each reading
    * the race sink through `F1Ops` joined to the drivers dimension. Every
    * request runs under its own job group, which ties its Spark jobs to it.
    */
  def dashboard(spark: SparkSession, sink: String, drivers: DataFrame,
      requests: IndexedSeq[Gen.Request]): IndexedSeq[Request] =
    requests.zipWithIndex.map { case (r, i) =>
      val group = s"request-$i"
      spark.sparkContext.setJobGroup(group, r.kind)
      val t0 = System.currentTimeMillis()
      val ok = try { serve(spark, sink, drivers, r); true } catch {
        case e: Exception =>
          System.err.println(s"dashboard ${r.kind} failed: $e")
          false
      }
      spark.sparkContext.clearJobGroup()
      Request(group, r.kind, t0, System.currentTimeMillis(), ok)
    }

  private def serve(spark: SparkSession, sink: String, drivers: DataFrame,
      r: Gen.Request): Unit = {
    val results = spark.read.parquet(sink)
    def standings = F1Ops.standings(results, drivers, lit(SeasonRaces))
    r match {
      case Gen.Standings => standings.collect()
      case Gen.Podium => F1Ops.podium(standings).collect()
      case Gen.GpDetail(gp) =>
        F1Ops.enrichWithDim(results.filter(col("grand_prix") === gp), drivers, "driver_number")
          .groupBy("driver_number", "driver_name")
          .agg(sum("points").as("points"), min("position").as("best"),
            count(lit(1)).as("starts"))
          .orderBy(col("points").desc, col("driver_number"))
          .collect()
      case Gen.WinRate =>
        val races = results.groupBy("driver_number").agg(count(lit(1)).as("races"))
        F1Ops.wins(results).join(races, "driver_number")
          .withColumn("win_rate", F1Ops.winRate(col("wins"), col("races")))
          .orderBy(col("win_rate").desc, col("driver_number"))
          .collect()
    }
  }

  final case class Request(group: String, kind: String, startMs: Long, endMs: Long, ok: Boolean)

  private val RequestKinds = Seq("standings", "podium", "gp_detail", "win_rate")

  def dashboardMetrics(requests: IndexedSeq[Request]): Seq[(String, Double, String)] = {
    val secs = requests.filter(_.ok).map(r => (r.endMs - r.startMs) / 1000.0)
    def p(xs: Seq[Double], f: Seq[Double] => Double) = if (xs.isEmpty) 0.0 else f(xs)
    Seq(
      ("dashboard.requests", requests.size.toDouble, "count"),
      ("dashboard.request_s_p50", p(secs, Stats.median), "s")) ++
      RequestKinds.map { k =>
        (s"dashboard.${k}_s_p50",
          p(requests.filter(r => r.ok && r.kind == k).map(r => (r.endMs - r.startMs) / 1000.0),
            Stats.median), "s")
      }
  }

  // -------------------------------------------------------------- curation

  def curation(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Gen.readDocs(s"${ctx.dataDir}/docs.tsv.gz")
    val docs = Gen.docStream(base, ctx.seed, (CurationRate * (ctx.seconds + CurationSpareSeconds)).toInt)
    val feed = docs.map(d => (d.docId, d.text, d.embedding))
    val centroids = base.filter(_.docId < 8).map(d => (d.docId.toInt, d.embedding))
      .toDF("cell_id", "centroid")
    Phase("inputs generated")
    val corpus = ctx.dir("corpus")
    val ms = MemoryStream[(Long, String, Seq[Double])](Host.cpus)
    val t0 = System.nanoTime()
    val query = CorpusIngest.startCurationSink(ms.toDF().toDF("doc_id", "text", "embedding"),
      corpus, ctx.dir("curation-checkpoint"), centroids,
      trigger = Trigger.ProcessingTime(CurationTriggerMs))
    val startS = (System.nanoTime() - t0) / 1e9
    val gen = new OpenLoop(ms, feed, CurationRate)
    val live = Live.run(query, ctx.progress, gen, ctx.seconds,
      CurationWarmBatches)
    ctx.scanTrace.foreach(_.close(ScanGraceMs))

    // correctness: keepers are a duplicate-free subset of the input, and
    // every keeper is in each sidecar index
    val kept = spark.read.parquet(corpus)
    val keptRows = kept.select("doc_id", "content_hash").as[(Long, String)].collect()
    val keptIds = keptRows.map(_._1).toSet
    val sentIds = docs.take(live.sent).map(_.docId).toSet
    ctx.check("curation.kept_le_in", keptRows.length <= live.sent)
    ctx.check("curation.unique_ids", keptIds.size == keptRows.length)
    ctx.check("curation.unique_content_hash", keptRows.map(_._2).distinct.length == keptRows.length)
    ctx.check("curation.ids_from_input", keptIds.subsetOf(sentIds))
    val bandCols = kept.columns.filter(_.matches("band\\d+")).sorted
    ctx.check("curation.band_index", bandCols.nonEmpty && {
      val keeperBands = kept.select(col("epoch").cast("long").as("epoch"),
          col("batch_id").cast("long").as("batch_id"),
          explode(array(bandCols.toIndexedSeq.map(b =>
            struct(lit(b.stripPrefix("band").toInt).as("band"), col(b).as("bh"))): _*)).as("e"))
        .select(col("epoch"), col("batch_id"), col("e.band").as("band"), col("e.bh").as("bh"))
      val index = spark.read.parquet(s"$corpus/_graft_bands")
        .select(col("epoch").cast("long"), col("batch_id").cast("long"),
          col("band").cast("int"), col("bh"))
      keeperBands.join(index, Seq("epoch", "batch_id", "band", "bh"), "left_anti").isEmpty
    })
    val winnowIds = spark.read.parquet(s"$corpus/_graft_winnow").select("doc_id")
      .as[Long].collect().toSet
    val cellIds = spark.read.parquet(s"$corpus/_graft_cells").select("doc_id")
      .as[Long].collect().toSet
    ctx.check("curation.winnow_index", keptIds.subsetOf(winnowIds) && winnowIds.subsetOf(keptIds))
    ctx.check("curation.cell_index", keptIds == cellIds)

    Phase("checks done")
    val written = files(corpus)
    val docsIn = live.allBatches.map(_.numInputRows).sum
    val layer = Seq(
      ("curation.start_s", startS, "s"),
      ("curation.docs_in", docsIn.toDouble, "docs"),
      ("curation.docs_kept", keptRows.length.toDouble, "docs"),
      ("curation.kept_ratio", if (docsIn > 0) keptRows.length.toDouble / docsIn else 0.0, "1"),
      ("curation.add_batch_s_p50",
        p50(live.windowBatches.map(b => ProgressLog.duration(b, "addBatch") / 1000.0)), "s"),
      ("curation.files_written", written.size.toDouble, "count"),
      ("curation.bytes_written", written.map(_.length).sum.toDouble, "bytes"))
    outcome(ctx, live, CurationRate, sinkLayer = "curation", IndexedSeq.empty, layer,
      Map("sent" -> live.sent, "kept" -> keptRows.length, "start_s" -> startS))
  }

  // ---------------------------------------------------------------- shared

  /** CRC-32 of a string's UTF-8 bytes, as Spark's `crc32` computes it. */
  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  def files(dir: String): Seq[java.io.File] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toFile).toList
      finally s.close()
    }
  }

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Attempted and failed operations, end-to-end and per-layer metrics of
    * a live run.
    */
  def outcome(ctx: Ctx, live: LiveRun, rate: Double, sinkLayer: String,
      requests: IndexedSeq[Request], workloadLayer: Seq[(String, Double, String)],
      extra: Map[String, Any]): Outcome = {
    val windowItems = live.lastItem - live.firstItem + 1
    val failedRequests = requests.count(!_.ok)
    val lat = live.latenciesMs.map(_ / 1000.0)
    val p50 = if (lat.isEmpty) Stats.Pct(0, 50, 0) else Stats.percentile(lat, 50)
    val p99 = if (lat.isEmpty) Stats.Pct(0, 99, 0) else Stats.tail(lat, 99)
    val setupS = (live.windowStartMs - Host.processStartMs) / 1000.0
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_s", p50.value, "s"),
      ("latency_p99_s", p99.value, "s"),
      ("throughput_per_s", live.throughput, "items/s"),
      ("mem_peak_mb", live.heapPeakMb, "MB"))
    val layer = if (ctx.trace) perLayer(ctx, live, rate, sinkLayer, requests, workloadLayer, p50.value)
      else Nil
    val lateS = live.lateMaxMs / 1000.0
    val report = extra ++ Map(
      "latency_p50" -> Map("value" -> p50.value, "pct" -> p50.pct, "n" -> p50.n),
      "latency_tail" -> Map("value" -> p99.value, "pct" -> p99.pct, "n" -> p99.n,
        "beyond" -> p99.beyond),
      "window_items" -> windowItems, "uncommitted" -> live.uncommitted,
      "requests" -> requests.size, "failed_requests" -> failedRequests,
      "batches_in_window" -> live.windowBatches.size,
      "drain_s" -> (live.drainEndMs - live.windowEndMs) / 1000.0,
      "session_start_s" -> (ctx.sessionReadyMs - Host.processStartMs) / 1000.0,
      "gen_late_max_s" -> lateS, "valid" -> (lateS <= Main.LateBoundS),
      "steal_per_s" -> live.stealPerSec,
      "trigger_ms" -> live.allBatches.map(b => ProgressLog.duration(b, "triggerExecution")))
    if (lateS > Main.LateBoundS)
      System.err.println(f"perfbench: INVALID run, generator ran $lateS%.3f s late " +
        s"(bound ${Main.LateBoundS} s)")
    Outcome(windowItems.toLong + requests.size, live.uncommitted.toLong + failedRequests,
      endToEnd, layer, report)
  }

  /** Plain nearest-rank percentile of a per-layer sample, 0 when empty.
    * Per-layer samples are per batch, a few dozen at most, too few for
    * the end-to-end tail rule.
    */
  private def pctOr0(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs, p).value

  /** The per-layer metrics of a traced run, plus its span file. */
  def perLayer(ctx: Ctx, live: LiveRun, rate: Double, sinkLayer: String,
      requests: IndexedSeq[Request], workloadLayer: Seq[(String, Double, String)],
      latencyP50S: Double): Seq[(String, Double, String)] = {
    val ws = live.windowStartMs
    val we = (live.drainEndMs +: requests.map(_.endMs)).max
    val batches = live.windowBatches
    def d(key: String) = batches.map(b => ProgressLog.duration(b, key).toDouble)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      batches.map(_.stateOperators.map(f).sum.toDouble)
    val stream = Seq(
      ("stream.batches", batches.size.toDouble, "count"),
      ("stream.rows_per_batch_p50", pctOr0(batches.map(_.numInputRows.toDouble), 50), "rows"),
      ("stream.trigger_ms_p50", pctOr0(d("triggerExecution"), 50), "ms"),
      ("stream.trigger_ms_p99", pctOr0(d("triggerExecution"), 99), "ms"),
      ("stream.add_batch_ms_p50", pctOr0(d("addBatch"), 50), "ms"),
      ("stream.planning_ms_p50", pctOr0(d("queryPlanning"), 50), "ms"),
      ("stream.wal_commit_ms_p50", pctOr0(d("walCommit"), 50), "ms"),
      ("stream.commit_offsets_ms_p50", pctOr0(d("commitOffsets"), 50), "ms"),
      ("stream.latest_offset_ms_p50", pctOr0(d("latestOffset"), 50), "ms"),
      ("stream.queue_wait_ms_p50", pctOr0(live.queueWaitsMs, 50), "ms"),
      ("stream.state_rows", state(_.numRowsTotal).lastOption.getOrElse(0.0), "rows"),
      ("stream.state_commit_ms_p50", pctOr0(state(_.commitTimeMs), 50), "ms"),
      ("stream.state_mem_bytes", state(_.memoryUsedBytes).lastOption.getOrElse(0.0), "bytes"))

    val st = ctx.sparkTrace.get
    val ops = batches.map(b => s"batch-${b.batchId}").toSet ++ requests.map(_.group)
    val jobs = st.jobs.asScala.toIndexedSeq.filter(j => ops.contains(j.op))
    val jobStages = jobs.flatMap(_.stageIds).toSet
    val stageInfos = st.stages.asScala.toIndexedSeq.filter(s => jobStages.contains(s.stageId))
    val tasks = st.tasks.asScala.toIndexedSeq.filter(t => jobStages.contains(t.stageId))
    val nOps = math.max(1, ops.size).toDouble
    val spark = Seq(
      ("spark.jobs_per_op", jobs.size / nOps, "count"),
      ("spark.stages_per_op", stageInfos.size / nOps, "count"),
      ("spark.tasks_per_op", tasks.size / nOps, "count"),
      ("spark.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.task_run_s", tasks.map(_.runMs).sum / 1e3, "s"),
      ("spark.gc_s", tasks.map(_.gcMs).sum / 1e3, "s"),
      ("spark.scheduler_delay_s", tasks.map(_.schedulerDelayMs).sum / 1e3, "s"),
      ("spark.shuffle_read_bytes", tasks.map(_.shuffleRead).sum.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("spark.spill_bytes", tasks.map(_.spill).sum.toDouble, "bytes"),
      ("spark.failed_tasks", tasks.count(_.failed).toDouble, "count"))

    val codegen = Seq(
      ("codegen.setup_compiles", live.setupCodegen.compiles.toDouble, "count"),
      ("codegen.setup_compile_s", live.setupCodegen.compileNs / 1e9, "s"),
      ("codegen.window_compiles",
        (live.windowCodegen.compiles - live.setupCodegen.compiles).toDouble, "count"),
      ("codegen.window_compile_s",
        (live.windowCodegen.compileNs - live.setupCodegen.compileNs) / 1e9, "s"))

    val scans = ctx.scanTrace.get.scans.asScala.toIndexedSeq
      .filter(_.endMs >= ws)
    val nScans = math.max(1, scans.size).toDouble
    val sources = Seq(
      ("sources.files_read_per_query", scans.map(_.files).sum / nScans, "count"),
      ("sources.bytes_read_per_query", scans.map(_.bytes).sum / nScans, "bytes"),
      ("sources.scan_s", scans.map(_.scanMs).sum / 1e3, "s"))

    val windowBlocks = live.blocks.filter(b => b.callMs >= ws && b.callMs <= we)
    val gen = Seq(
      ("gen.late_max_s", live.lateMaxMs / 1000.0, "s"),
      ("gen.offered_per_s", rate, "items/s"),
      ("host.cpus", Host.cpus.toDouble, "count"),
      ("host.steal_per_s", live.stealPerSec, "1/s"))

    val spans = Spans.build(ws, we, sinkLayer, batches, requests, windowBlocks, jobs,
      st.jobEnds.asScala.map { case (k, v) => k.toInt -> v.longValue }.toMap, stageInfos)
    Spans.write(spans, ctx.dir("spans.jsonl"))
    val self = Stats.selfByLayer(spans)
    val selfMetrics = Spans.Layers.map(l =>
      (s"self.${l.replace('.', '_')}_s", self.getOrElse(l, 0L) / 1e9, "s"))

    val known = (stream ++ spark ++ codegen ++ sources ++ workloadLayer ++ gen ++ selfMetrics)
      .map(m => m._1 -> m).toMap
    Layer.names.map { case (n, unit) => known.getOrElse(n, (n, 0.0, unit)) } :+
      (("trace.latency_p50_s", latencyP50S, "s"))
  }
}

/** Every per-layer metric name, in output order, with its unit. A
  * workload prints 0 for a layer it does not reach.
  */
object Layer {
  val names: Seq[(String, String)] = Seq(
    "stream.batches" -> "count", "stream.rows_per_batch_p50" -> "rows",
    "stream.trigger_ms_p50" -> "ms", "stream.trigger_ms_p99" -> "ms",
    "stream.add_batch_ms_p50" -> "ms", "stream.planning_ms_p50" -> "ms",
    "stream.wal_commit_ms_p50" -> "ms", "stream.commit_offsets_ms_p50" -> "ms",
    "stream.latest_offset_ms_p50" -> "ms", "stream.queue_wait_ms_p50" -> "ms",
    "stream.state_rows" -> "rows", "stream.state_commit_ms_p50" -> "ms",
    "stream.state_mem_bytes" -> "bytes",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s",
    "spark.gc_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "codegen.setup_compiles" -> "count", "codegen.setup_compile_s" -> "s",
    "codegen.window_compiles" -> "count", "codegen.window_compile_s" -> "s",
    "sources.files_read_per_query" -> "count", "sources.bytes_read_per_query" -> "bytes",
    "sources.scan_s" -> "s",
    "race.rows_parsed" -> "rows", "race.rows_committed" -> "rows",
    "race.keep_ratio" -> "1", "race.sink_files" -> "count",
    "dashboard.requests" -> "count", "dashboard.request_s_p50" -> "s",
    "dashboard.standings_s_p50" -> "s",
    "dashboard.podium_s_p50" -> "s", "dashboard.gp_detail_s_p50" -> "s",
    "dashboard.win_rate_s_p50" -> "s",
    "curation.start_s" -> "s", "curation.docs_in" -> "docs", "curation.docs_kept" -> "docs",
    "curation.kept_ratio" -> "1", "curation.add_batch_s_p50" -> "s",
    "curation.files_written" -> "count", "curation.bytes_written" -> "bytes",
    "gen.late_max_s" -> "s", "gen.offered_per_s" -> "items/s",
    "host.cpus" -> "count", "host.steal_per_s" -> "1/s") ++
    Spans.Layers.map(l => s"self.${l.replace('.', '_')}_s" -> "s")
}
