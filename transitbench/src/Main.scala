package transitbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The transit benchmark's JVM side. One call runs one workload:
  *
  *   Main --workload feed_live|feed_backfill|mart_dashboard --seed N
  *        --seconds S --trace 0|1 --work DIR [--cores C]
  *
  * and prints, last, one JSON line: `correct`, `attempted`, `failed` and
  * the end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  * `--rerun OP --work DIR` is the one-core side of the speed-up probe,
  * `--train 1 --work DIR` the build's class-sharing training run. */
object Main {
  val E2eMetrics = Seq("setup_s", "latency_p50_s", "rows_per_s")
  val LayerMetrics = Seq(
    "gtfs.decode_mb_per_s",
    "operators.latest_per_key_s", "operators.upsert_s", "operators.dedup_ratio",
    "pipelines.observations_s", "pipelines.historical_s", "pipelines.diff_s",
    "streaming.add_batch_s", "streaming.latest_offset_s", "streaming.wal_commit_s",
    "streaming.commit_offsets_s", "streaming.scans_per_batch", "streaming.merge_s",
    "streaming.touched_partitions", "streaming.drain_s", "streaming.backlog_max",
    "streaming.snapshot_files", "streaming.snapshot_mb",
    "analytics.avg_delay_by_hour_s", "analytics.avg_delay_sliced_s", "analytics.peak_hours_s",
    "analytics.stop_density_s", "analytics.delay_rollup_s",
    "spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.parallelism", "spark.driver_self_s",
    "spark.plan_s", "spark.shuffle_bytes", "spark.input_bytes", "spark.output_bytes",
    "spark.spill_bytes", "spark.speedup_vs_1core",
    "jvm.gc_s", "jvm.heap_peak_mb", "gen.late_s_p50", "gen.late_s_max")

  /** Seconds from JVM start until the Spark session was ready. */
  @volatile var sessionReadyS = 0.0

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("transitbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", 10000L)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.tuneLocalFs(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opts.getOrElse("work", sys.error("--work is required"))).toAbsolutePath
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val seed = opts.getOrElse("seed", "1").toLong
    Files.createDirectories(work)
    if (opts.contains("selftest")) sys.exit(if (HarnessTests.run(work) == 0) 0 else 1)
    val spark = session(cores, work)
    sessionReadyS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try opts.get("rerun") match {
      case Some(op) => println(s"RERUN_S=${Probes.rerun(spark, op, work)}")
      case None if opts.contains("train") => train(spark, work, cores)
      case None => runWorkload(spark, opts("workload"), seed, opts.getOrElse("seconds", "20").toInt,
        opts.getOrElse("trace", "0") == "1", work, cores)
    } finally {
      spark.stop()
      System.err.println(f"[transitbench] JVM uptime after stop ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    }
  }

  /** Touches every layer once on tiny inputs: the build runs this to record
    * the class-data-sharing archive that later JVMs start from. */
  def train(spark: SparkSession, work: Path, cores: Int): Unit = {
    val c = new Ctx(spark, 1, 1, new Tracer(false), work, cores)
    val model = new FeedModel(1)
    val feed = Probes.feedInputs(c, model, (0 until 3).map(model.payload),
      model.seedRows(20, Gen.weatherJson(1)))
    Probes.mergeOnce(spark, feed)
    Probes.drainOnce(spark, feed)
    MartDashboard.refresh(spark, Probes.smallMart(c, 100).mart, new Tracer(true))
  }

  def runWorkload(spark: SparkSession, workload: String, seed: Long, seconds: Int, trace: Boolean,
                  work: Path, cores: Int): Unit = {
    val tracer = new Tracer(trace)
    val c = new Ctx(spark, seed, seconds, tracer, work.resolve(workload), cores)
    if (trace) c.engine // registers the listeners before any job runs
    val r = new Result
    val run: (Ctx, Result) => Unit = workload match {
      case "feed_live" => FeedLive.run
      case "feed_backfill" => FeedBackfill.run
      case "mart_dashboard" => MartDashboard.run
      case w => sys.error(s"unknown workload $w")
    }
    try run(c, r)
    catch { case e: Exception => e.printStackTrace(); r.op(ok = false, e.toString) }
    r.notes += f"JVM uptime at end of run ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s"
    r.notes.foreach(n => println(s"[transitbench] $workload $n"))
    println(f"[transitbench] $workload error_rate=${r.failed.toDouble / math.max(1, r.attempted)}%.4f " +
      s"(${r.failed} of ${r.attempted} operations failed)")
    if (trace) {
      val spans = work.resolveSibling("spans").resolve(s"$workload-seed$seed.tsv")
      tracer.writeTsv(spans)
      println(s"[transitbench] $workload spans written to $spans")
    }
    val metrics = if (trace) r.layers else r.e2e
    println(s"[transitbench] e2e ${Json.metrics(r.e2e)}")
    // A run that could not measure every metric has no result to print.
    val missing = (if (trace) LayerMetrics else E2eMetrics).filterNot(metrics.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[transitbench] $workload measured no ${missing.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    println(Json.result(r.failed == 0 && r.attempted > 0, math.max(1, r.attempted), r.failed, metrics))
  }
}

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def metrics(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")
  def result(correct: Boolean, attempted: Long, failed: Long, m: Iterable[(String, (Double, String))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(m)}}"""
}
