package graft.layerbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.streaming.TempDir
import org.apache.spark.sql.SparkSession

/** Command-line options the runner passes to the JVM. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    launchEpochNs: Long,
    settings: Path,
    workDir: Path,
    out: Path,
    spans: Path,
    short: Boolean,
    injectFailure: Boolean,
    record: Boolean) {
  private lazy val root: JsonNode = new ObjectMapper().readTree(settings.toFile)
  def conf(path: String): JsonNode =
    path.split('.').foldLeft(root)((n, k) => n.path(k))
  def int(path: String): Int = { val n = conf(path); require(!n.isMissingNode, s"setting $path"); n.asInt }
  /** A workload setting, with its short-mode override when `short` is set. */
  def wl(key: String): JsonNode = {
    val s = conf(s"workloads.$workload.short.$key")
    if (short && !s.isMissingNode) s else conf(s"workloads.$workload.$key")
  }
  def wlInt(key: String): Int = { val n = wl(key); require(!n.isMissingNode, s"setting $workload.$key"); n.asInt }
  def wlLong(key: String): Long = { val n = wl(key); require(!n.isMissingNode, s"setting $workload.$key"); n.asLong }
  def wlDouble(key: String): Double = { val n = wl(key); require(!n.isMissingNode, s"setting $workload.$key"); n.asDouble }
  def rideGen: RideGen = RideGen(seed, wlDouble("hot_share"), wlDouble("out_share"), wlInt("hot_cells"), wlLong("ride_gap_ms"))
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def p(k: String): Path = Paths.get(m(k)).toAbsolutePath
    Opts(
      workload = m("workload"),
      seed = m("seed").toLong,
      seconds = m("seconds").toInt,
      trace = m.get("trace").contains("1"),
      launchEpochNs = m("launch-epoch-ns").toLong,
      settings = p("settings"),
      workDir = p("work-dir"),
      out = p("out"),
      spans = p("spans"),
      short = m.get("short").contains("1"),
      injectFailure = m.get("inject-failure").contains("1"),
      record = m.get("record").contains("1"))
  }
}

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    attempted: Int,
    failed: Int,
    gatePassed: Boolean,
    /** Latency of each successful result, ms (the workload defines a result). */
    resultMs: Seq[Double],
    /** Results (or events) completed per second: over the measured window
      * (paced) or the median over passes (registry).
      */
    throughputPerS: Double,
    /** Wall clock (epoch ns) when the first timed operation began. */
    firstTimedEpochNs: Long,
    /** Per-layer metrics this workload measured (the rest report 0). */
    layers: Map[String, Double],
    /** The workload's headline numbers under their own names. */
    headline: Seq[(String, Double, String)],
    notes: Seq[(String, Any)] = Nil)

/** Everything a workload needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    opts: Opts,
    tracer: Tracer,
    progress: ProgressLog,
    tasks: Option[TaskLog],
    /** The run's scratch dir where the engine's `TempDir` places its own
      * (tmpfs when writable); deleted when the run ends.
      */
    tmp: Path) {
  def seconds: Int = opts.seconds
  def scratch(name: String): Path = {
    val d = tmp.resolve(name)
    Files.createDirectories(d)
    d
  }
}

object Main {

  def epochNs: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val loadBefore = Proc.loadAvg
    val jBefore = Proc.cpuJiffies
    val tmp = TempDir.create("layerbench-")
    // a hook, not a finally: it also runs when the runner stops the JVM
    sys.addShutdownHook(TempDir.deleteRecursively(tmp.toString))
    run(opts, tmp, loadBefore, jBefore)
  }

  private def run(opts: Opts, tmp: Path, loadBefore: String, jBefore: Array[Long]): Unit = {
    val slots = math.min(opts.int("spark.slots"), Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", opts.int("spark.shuffle_partitions").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val sparkReadyS = (epochNs - opts.launchEpochNs) / 1e9

      val tracer = new Tracer(opts.trace)
      val progress = new ProgressLog
      spark.sparkContext.addSparkListener(progress)
      val tasks = if (opts.trace) Some(new TaskLog) else None
      tasks.foreach(spark.sparkContext.addSparkListener)
      val ctx = Ctx(spark, opts, tracer, progress, tasks, tmp)

      val outcome = opts.workload match {
        case "taxi_paced" => TaxiPaced.run(ctx)
        case "registry"   => Registry.run(ctx)
        case other        => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val calib = Proc.calibMs()
      val rssMb = Proc.vmHwmMb
      val (busy, steal) = Proc.cpuPct(jBefore, Proc.cpuJiffies)

      def num(d: Double): Option[Double] = Some(d).filterNot(x => x.isNaN || x.isInfinite)
      val ok = outcome.resultMs
      val e2e = Seq(
        "setup_s" -> ((outcome.firstTimedEpochNs - opts.launchEpochNs) / 1e9, "s"),
        "rss_peak_mb" -> (rssMb, "MB"),
        "result_p50_ms" -> (Stats.quantile(ok, 0.5), "ms"),
        "result_p95_ms" -> (Stats.quantile(ok, 0.95), "ms"),
        "throughput_per_s" -> (outcome.throughputPerS, "1/s"))
      val context = Json.obj(
        "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
        "trace" -> opts.trace, "short" -> opts.short,
        "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_slots" -> slots,
        "load_before" -> loadBefore, "load_after" -> Proc.loadAvg,
        "cpu_busy_pct" -> busy, "cpu_steal_pct" -> steal, "calib_ms" -> calib,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark_version" -> spark.version,
        "spark_ready_s" -> sparkReadyS,
        "result_samples" -> ok.size)
      if (opts.trace) tracer.write(opts.spans, context + ("layers" -> ListMap(outcome.layers.toSeq.sortBy(_._1): _*)))
      Json.write(opts.out, Json.obj(
        "correct" -> (outcome.gatePassed && outcome.failed == 0),
        "gate_passed" -> outcome.gatePassed,
        "attempted" -> outcome.attempted,
        "failed" -> outcome.failed,
        "end_to_end" -> ListMap(e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> num(v), "unit" -> u) }: _*),
        "per_layer" -> ListMap((outcome.layers + ("trace.spans" -> tracer.size.toDouble)).toSeq.sortBy(_._1): _*),
        "headline" -> outcome.headline.map { case (k, v, u) => Json.obj("name" -> k, "value" -> num(v), "unit" -> u) },
        "notes" -> ListMap(outcome.notes: _*),
        "context" -> context))
    } finally spark.stop()
  }
}
