package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run knows about itself. */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean,
    val workDir: java.io.File, val dataDir: String, val spark: SparkSession,
    val progress: ProgressLog, val sparkTrace: Option[SparkTrace],
    val scanTrace: Option[ScanTrace], val sessionReadyMs: Long) {

  def dir(name: String): String = new java.io.File(workDir, name).getAbsolutePath

  /** The run's correctness checks, by name; any false one fails the run. */
  val checks = mutable.LinkedHashMap.empty[String, Boolean]

  def check(name: String, ok: => Boolean): Unit = {
    val v = try ok catch {
      case e: Exception =>
        System.err.println(s"check $name threw: $e")
        false
    }
    if (!v) System.err.println(s"check failed: $name")
    checks(name) = v
  }
}

/** What a workload hands back: attempted and failed operations, the
  * end-to-end metrics, the per-layer metrics and a free-form report.
  */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Seq[(String, Double, String)], perLayer: Seq[(String, Double, String)],
    report: Map[String, Any])

/** Phase marks on stderr, in seconds since the JVM started. */
object Phase {
  def apply(what: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - Host.processStartMs) / 1000.0}%7.2f s  $what")
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work-dir <dir> --data-dir <dir>`: runs one workload and prints a
  * report line and, last, the result line.
  */
object Main {

  /** The session settings `graft.Bench` applies, listed once, so numbers
    * stay comparable with its history: the sort-based shuffle writer, a
    * 1000-entry codegen cache, no session artifact isolation, the
    * object-hash aggregate fallback threshold and the chmod-free local
    * file system.
    */
  val BenchSettings: Seq[(String, String)] = Seq(
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
    "spark.hadoop.fs.file.impl" -> "graft.sources.BareLocalFileSystem")

  /** How late, in seconds, the generator may run before a run reports
    * itself invalid.
    */
  val LateBoundS: Double = 0.5

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val workDir = new java.io.File(opts("work-dir"))
    val dataDir = opts("data-dir")
    require(Workloads.all.contains(workload),
      s"unknown workload '$workload'; known: ${Workloads.all.keys.mkString(", ")}")
    require(seconds >= 1, "seconds must be at least 1")

    val cpus = Host.cpus
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "warehouse").getAbsolutePath)
    BenchSettings.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    Phase("session ready")

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val sparkTrace = if (trace) Some(new SparkTrace) else None
    val scanTrace = if (trace) Some(new ScanTrace) else None
    sparkTrace.foreach(spark.sparkContext.addSparkListener)
    scanTrace.foreach(spark.listenerManager.register)

    val ctx = new Ctx(seed, seconds, trace, workDir, dataDir, spark, progress,
      sparkTrace, scanTrace, sessionReadyMs)
    val ok = try {
      val out = Workloads.all(workload)(ctx)
      val failedChecks = ctx.checks.count(!_._2)
      val attempted = out.attempted + ctx.checks.size
      val failed = out.failed + failedChecks
      val successRatio = (attempted - failed).toDouble / attempted
      val metrics =
        if (trace) out.perLayer
        else out.endToEnd :+ (("success_ratio", successRatio, "1"))
      val report = out.report ++ Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "checks" -> ctx.checks.toMap, "success_ratio" -> successRatio,
        "host" -> Map("nproc" -> cpus, "boot_id" -> Host.bootId,
          "heap_max_mb" -> Host.heapMaxMb, "spark_version" -> spark.version,
          "steal_per_s" -> out.report.getOrElse("steal_per_s", 0.0)))
      Phase("result ready")
      println("REPORT " + Json.render(report))
      println("RESULT " + Json.render(Map(
        "correct" -> (failedChecks == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
          .to(mutable.LinkedHashMap))))
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $workload failed")
        e.printStackTrace()
        false
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      spark.stop()
    }
    Phase("session stopped")
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}

/** A minimal JSON writer for the report and result lines. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
