package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: builds the Spark session the way
  * graft.Bench does, runs one workload for the requested time, and
  * writes what it measured as one JSON object to `--out`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --root <temp dir> --out <file> --disk-floor <bytes>
  *   [--trace-file <file>] [--data <sf dir>]
  */
object Main {
  /** Untimed serve_small traffic before measuring. */
  val ServeWarmUpSeconds = 5.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val root = Paths.get(args("root"))
    val out = Paths.get(args("out"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report = new Report
    val tracer = new Tracer(spark.sparkContext, traced)
    // free disk below which the run stops and counts as failed
    val disk = new DiskWatch(root, args("disk-floor").toLong, spark)
    disk.start()
    val ticks0 = Host.ticks()
    try {
      workload match {
        case "serve_small" => serveSmall(spark, root, seed, seconds, cpus, tracer, report)
        case "pipeline_batch" =>
          pipelineBatch(spark, root, args("data"), args("gen-seconds").toDouble, seed, seconds, tracer, report)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case t: Throwable => report.fail(s"$workload aborted: $t"); t.printStackTrace()
    } finally {
      val ticks1 = Host.ticks()
      disk.stop()
      disk.breach.foreach(b => report.fail(b))
      report.put("jvm.live_heap_bytes", Host.liveHeapBytes().toDouble, "bytes")
      report.put("host.peak_rss_bytes", Host.peakRssBytes().toDouble, "bytes")
      report.put("host.foreign_cpu_share", Host.foreignShare(ticks0, ticks1), "share")
      report.put("host.iowait_share", Host.iowaitShare(ticks0, ticks1), "share")
      report.put("disk.local_dir_peak_bytes", disk.peak.toDouble, "bytes")
      if (traced) {
        val (spans, work) = tracer.finish()
        Layers.report(report, spans, work, cpus)
        args.get("trace-file").foreach(f => tracer.write(Paths.get(f), spans))
      }
      spark.stop()
      Files.createDirectories(out.toAbsolutePath.getParent)
      Files.write(out, report.toJson.getBytes("UTF-8"))
    }
  }

  def serveSmall(spark: SparkSession, root: Path, seed: Long, seconds: Double, cpus: Int,
      tracer: Tracer, report: Report): Unit = {
    val w = new Serve(spark, seed, tracer, report)
    // the first population also loads and plans the write path
    val setups = (1 to 3).map(k => w.populate(root.resolve(s"serve-$k")))
    report.note(f"serve setup: populations ${setups.mkString(", ")} s")
    report.put("setup_s", Stats.median(setups), "s")
    val clients = math.min(4, cpus)
    w.warmUp(ServeWarmUpSeconds, clients)
    w.run(seconds, clients)
  }

  def pipelineBatch(spark: SparkSession, root: Path, data: String, genSeconds: Double, seed: Long,
      seconds: Double, tracer: Tracer, report: Report): Unit = {
    val w = new Pipeline(spark, root, data, seed, tracer, report)
    // the cold pass runs first so it, not the first index build, pays
    // for loading and compiling the shared Spark code paths
    val cold = w.coldPass()
    val builds = (1 to 3).map(_ => w.buildIndex())
    w.prepareBatch()
    report.note(f"pipeline setup: generate $genSeconds%.2f s, index builds ${builds.mkString(", ")} s, cold pass $cold%.2f s")
    report.put("setup_s", genSeconds + Stats.median(builds) + cold, "s")
    w.run(seconds)
  }
}

/** Samples the bytes under the run's temp root and the free disk once
  * a second; below the floor it records a breach and cancels Spark
  * work so the run stops instead of filling the disk.
  */
final class DiskWatch(root: Path, floor: Long, spark: SparkSession) {
  @volatile var peak = 0L
  @volatile var breach: Option[String] = None
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      sample()
      try Thread.sleep(1000) catch { case _: InterruptedException => () }
    }
  }, "perfbench-diskwatch")
  thread.setDaemon(true)

  private def sample(): Unit = {
    peak = math.max(peak, Host.dirBytes(root))
    val free = Host.freeBytes(root)
    if (free < floor && breach.isEmpty) {
      breach = Some(s"free disk $free bytes fell below the $floor byte floor")
      spark.sparkContext.cancelAllJobs()
    }
  }
  def start(): Unit = thread.start()
  def stop(): Unit = { running = false; thread.interrupt(); thread.join(); sample() }
}
