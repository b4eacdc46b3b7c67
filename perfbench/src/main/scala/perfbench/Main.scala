package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload per process, so the program's
  * per-JVM caches (ProbeTemp's index memo, the train-once sidecars)
  * always start empty.
  *
  * Usage (normally launched by perfbench/run.py):
  *   perfbench.Main --workload analytics_sweep|index_lifecycle|live_consumer
  *     --out DIR --seed N --seconds N --trace 0|1
  *     [--data DIR --warm DIR --full 1] [--symbols N --ticks N --backlog N
  *     --min-polls N]
  *
  * Writes DIR/result.json (metrics, per-operation records, box stamp),
  * DIR/oracle_sql.json for the batch sweeps and, when traced,
  * DIR/spans.jsonl. Correctness of the batch results is judged by
  * run.py against DuckDB; the live workload checks itself. */
object Main {
  /** Every per-layer metric of the traced table. BENCHMARK.json lists
    * the ones all three workloads measure (Spark scheduler and I/O);
    * the module and stream-query ones read 0 where a workload does not
    * exercise that layer. */
  val modules: Seq[String] = Sweep.modules.map(_._1)
  val streamQueries: Seq[String] = Seq("dag", "features")
  val streamFields: Seq[String] = Seq("poll_p50_ms", "batches", "nodata_batches",
    "planning_ms", "add_batch_ms", "wal_ms", "offsets_ms", "state_commit_ms",
    "state_rows", "state_bytes", "late_rows_dropped")
  val layerNames: Seq[String] =
    modules.flatMap(m => Seq(s"$m.construct_s", s"$m.execute_s")) ++
      Seq("spark.jobs", "spark.construct_jobs", "spark.tasks", "spark.job_s",
        "spark.driver_gap_s", "spark.task_cpu_s") ++
      Seq("io.scan_bytes", "io.shuffle_write_bytes", "io.shuffle_read_bytes",
        "io.spill_bytes", "io.output_bytes") ++
      streamQueries.flatMap(q => streamFields.map(f => s"$q.$f"))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val out = a("out")
    val trace = a.getOrElse("trace", "0") == "1"
    new java.io.File(out).mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    // the session graft.Bench uses: local[nproc], shuffle width nproc,
    // AQE on, UTC
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val spans = new Spans
    val profile = if (trace) {
      val p = new Profile(spans)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None
    val ctx = Ctx(spark, a, out, trace, spans)
    val body = workload match {
      case "analytics_sweep" | "index_lifecycle" => new Sweep(ctx, workload)
      case "live_consumer" => new Live(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    body.setUp()
    val readyMs = System.currentTimeMillis()
    val cpu0 = Box.cpu()
    profile.foreach(_.recording = true)
    val m0 = ctx.nowMs
    val r = body.measure()
    val windowS = (ctx.nowMs - m0) / 1000.0
    profile.foreach { p =>
      p.recording = false
      org.apache.spark.BenchBus.drain(spark.sparkContext)
    }
    val cpu1 = Box.cpu()
    val checks = body.verify()
    val layers = collection.mutable.LinkedHashMap(layerNames.map(_ -> 0.0): _*)
    if (trace) layers ++= body.layers(r) ++ profile.map(sparkLayers(_, windowS)).getOrElse(Nil)
    val record = Seq(
      "workload" -> workload,
      "seed" -> a("seed").toLong,
      "trace" -> trace,
      "ready_ms" -> readyMs,
      "wall_s" -> r.wallS,
      "op_p50_ms" -> Stats.median(r.latMs),
      "op_p90_ms" -> Stats.pct(r.latMs, 0.9),
      "op_samples" -> r.latMs.size,
      "peak_rss_mb" -> Box.peakRssMb(),
      "attempted" -> (r.attempted + checks.size),
      "failed" -> (r.failures.size + checks.count(_._2.nonEmpty)),
      "failures" -> (r.failures ++ checks.flatMap { case (n, e) => e.map(n + ": " + _) }),
      "checks" -> checks.map(_._1),
      "box" -> Map("steal_pct" -> Box.stealPct(cpu0, cpu1), "loadavg" -> Box.loadAvg(),
        "cpus" -> cpus),
      "extra" -> r.extra,
      "layers" -> layers,
      "ops" -> r.ops)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/result.json"),
      Json.obj(record))
    if (trace) spans.write(s"$out/spans.jsonl")
    body.close()
    spark.stop()
  }

  /** `windowS` is the whole measured window: the sweep, or catch-up
    * plus live polls. */
  private def sparkLayers(p: Profile, windowS: Double): Seq[(String, Double)] = {
    val jobS = p.jobActiveSec
    Seq(
      "spark.jobs" -> p.jobs.size.toDouble,
      "spark.construct_jobs" -> p.jobs.count(j => Sweep.isConstructGroup(j._3)).toDouble,
      "spark.tasks" -> p.tasks.sum.toDouble,
      "spark.job_s" -> jobS,
      "spark.driver_gap_s" -> math.max(0.0, windowS - jobS),
      "spark.task_cpu_s" -> p.cpuNs.sum / 1e9,
      "io.scan_bytes" -> p.scanBytes.sum.toDouble,
      "io.shuffle_write_bytes" -> p.shuffleWrite.sum.toDouble,
      "io.shuffle_read_bytes" -> p.shuffleRead.sum.toDouble,
      "io.spill_bytes" -> p.spillBytes.sum.toDouble,
      "io.output_bytes" -> p.outputBytes.sum.toDouble)
  }
}

final case class Ctx(spark: SparkSession, args: Map[String, String], out: String,
    trace: Boolean, spans: Spans) {
  def int(k: String): Int = args(k).toInt
  def seed: Long = args("seed").toLong
  def seconds: Int = int("seconds")
  def nowMs: Double = System.nanoTime() / 1e6 - Ctx.nanoOffsetMs
}

object Ctx {
  /** Epoch-aligned monotonic clock for spans. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
}

/** What one measured window produced. */
final case class Measured(wallS: Double, latMs: Seq[Double], attempted: Int,
    failures: Seq[String], ops: Seq[Map[String, Any]], extra: Map[String, Any])

trait Workload {
  def setUp(): Unit
  def measure(): Measured
  /** Correctness checks run outside the timed window: (name, error). */
  def verify(): Seq[(String, Option[String])]
  def layers(m: Measured): Seq[(String, Double)]
  def close(): Unit = ()
}
