package transitbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import graft.gtfs.Rt
import graft.operators.Upsert
import graft.pipelines.{DiffTimes, Historical, Realtime}
import graft.streaming.{RealtimeRunner, RealtimeStream}
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.monotonically_increasing_id

import scala.jdk.CollectionConverters._

/** Direct calls into single layers, made in traced runs only. Every traced
  * run reports every per-layer metric: a layer its workload drives is
  * probed on that workload's own inputs, any other layer on inputs the
  * generator makes from the same seed. The inputs live on disk, so a
  * one-core JVM can rerun a probe on exactly the same files. */
object Probes {
  /** `dir` holds `drop/` (landed payloads), `seed_part/` and `seed_plain/`
    * (the pre-seeded snapshot, partitioned and not) and `weather.json`. */
  final case class FeedInputs(dir: Path) {
    def drop: Path = dir.resolve("drop")
    def weather: String = new String(Files.readAllBytes(dir.resolve("weather.json")), StandardCharsets.UTF_8)
    def payloads: IndexedSeq[Array[Byte]] = {
      val s = Files.list(drop)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".pb")).toIndexedSeq
        .sortBy(_.getFileName.toString).map(Files.readAllBytes)
      finally s.close()
    }
  }
  final case class MartInputs(gtfs: Path, tu: Path, mart: Path)

  def feedInputs(c: Ctx, model: FeedModel, payloads: Seq[Array[Byte]], seedRows: Seq[Row]): FeedInputs = {
    val dir = c.dir("probe/feed")
    payloads.zipWithIndex.foreach { case (p, k) => Gen.land(dir.resolve("drop"), Feeds.name(k), p) }
    Feeds.writeSeed(c.spark, seedRows, dir.resolve("seed_part"), partitioned = true)
    Feeds.writeSeed(c.spark, seedRows, dir.resolve("seed_plain"), partitioned = false)
    Files.write(dir.resolve("weather.json"), Gen.weatherJson(model.seed).getBytes(StandardCharsets.UTF_8))
    FeedInputs(dir)
  }

  /** A small mart: the speed-up probe's build, and the mart layers of runs
    * whose workload builds none. */
  def smallMart(c: Ctx, trips: Int = 200): MartInputs = {
    val dir = c.dir("probe/mart")
    val m = MartModel(c.seed, trips)
    val in = MartInputs(dir.resolve("gtfs"), dir.resolve("trip_updates"), dir.resolve("mart"))
    m.writeGtfsDir(in.gtfs)
    m.writeTripUpdates(c.spark, in.tu.toString)
    MartDashboard.build(c.spark, in.gtfs, in.tu, in.mart)
    in
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of the second of two runs of `body`: the first lets the
    * JIT and Spark's caches settle, since most probes run cold. */
  private def second(body: => Unit): Double = { body; Util.seconds(body) }

  /** `RealtimeStream.feedBatchPartitioned` on the last payload, into a fresh
    * copy of the partitioned seed: (seconds, partitions rewritten). */
  def mergeOnce(spark: SparkSession, f: FeedInputs): (Double, Int) = {
    val target = f.dir.resolve("merge_target")
    Util.deleteTree(target)
    Util.copyTree(f.dir.resolve("seed_part"), target)
    val ds = spark.createDataset(Seq(f.payloads.last))(Encoders.BINARY)
    val since = Util.nowMs
    val s = Util.seconds(RealtimeStream.feedBatchPartitioned(ds, target.toString, Some(f.weather)))
    (s, Util.touchedPartitions(target, since))
  }

  /** One `RealtimeRunner.runOnce` drain of the landed payloads into a fresh
    * copy of the plain seed. */
  def drainOnce(spark: SparkSession, f: FeedInputs): Double = {
    val target = f.dir.resolve("drain_target")
    val ckpt = f.dir.resolve("drain_checkpoint")
    Util.deleteTree(target); Util.deleteTree(ckpt)
    Util.copyTree(f.dir.resolve("seed_plain"), target)
    Files.write(f.dir.resolve("w.json"), f.weather.getBytes(StandardCharsets.UTF_8))
    val cfg = RealtimeRunner.Config(feedUrl = "file:/nonexistent", dropDir = f.drop.toString,
      targetPath = target.toString, checkpointDir = ckpt.toString,
      weatherUrl = Some(f.dir.resolve("w.json").toUri.toString),
      weatherStatePath = f.dir.resolve("weather.state").toString, fetchCycles = 0)
    Util.seconds(RealtimeRunner.runOnce(spark, cfg))
  }

  def timeDrain(c: Ctx, f: FeedInputs): Double = { drainOnce(c.spark, f); drainOnce(c.spark, f) }

  /** The second of two mart builds from `m`'s inputs into a scratch mart. */
  def timeBuild(spark: SparkSession, m: MartInputs): Double = {
    val out = m.mart.resolveSibling("mart_rebuilt")
    second(MartDashboard.build(spark, m.gtfs, m.tu, out))
  }

  def all(c: Ctx, r: Result, f: FeedInputs, m: MartInputs): Unit = {
    val spark = c.spark
    val payloads = f.payloads
    val weather = Some(f.weather)
    val mb = payloads.map(_.length.toLong).sum / 1048576.0
    val decodeS = second(payloads.foreach(p => Rt.flatten(Rt.decode(p))))
    r.layers("gtfs.decode_mb_per_s") = (mb / decodeS, "MB/s")

    val ds = spark.createDataset(payloads)(Encoders.BINARY)
    r.layers("pipelines.observations_s") = (second(noop(Realtime.observations(ds, weather)(spark))), "s")
    val keys = Seq("trip_id", "start_date", "stop_sequence", "stop_id")
    val obsPath = f.dir.resolve("obs").toString
    Realtime.observations(ds, weather)(spark).withColumn("__seq", monotonically_increasing_id())
      .write.mode("overwrite").parquet(obsPath)
    val obs = spark.read.parquet(obsPath)
    r.layers("operators.latest_per_key_s") = (second(noop(Upsert.latestPerKey(obs, keys, "__seq"))), "s")
    val latestPath = f.dir.resolve("latest").toString
    Upsert.latestPerKey(obs, keys, "__seq").drop("__seq").write.mode("overwrite").parquet(latestPath)
    val latest = spark.read.parquet(latestPath)
    r.layers("operators.dedup_ratio") = (latest.count().toDouble / obs.count(), "ratio")
    val target = spark.read.parquet(f.dir.resolve("seed_plain").toString)
    r.layers("operators.upsert_s") = (second(noop(Upsert.upsert(target, latest, keys,
      Seq("arrival_time", "departure_time"), Some("created_at")))), "s")

    mergeOnce(spark, f)
    val (mergeS, touched) = mergeOnce(spark, f)
    r.layers("streaming.merge_s") = (mergeS, "s")
    r.layers("streaming.touched_partitions") = (touched.toDouble, "count")
    if (!r.layers.contains("streaming.drain_s")) {
      val from = Util.nowMs
      r.layers("streaming.drain_s") = (timeDrain(c, f), "s")
      if (!r.layers.contains("streaming.add_batch_s")) {
        // this workload runs no stream of its own: take the drain probe's
        val batches = c.batchesSince(from)
        Feeds.streamingLayers(r, batches, batches.map(_ => payloads.size))
        Feeds.snapshotLayers(r, f.dir.resolve("drain_target"))
      }
    }

    val (st, trips, cd, stops, routes) = Historical.readGtfsDir(spark, m.gtfs.toString)
    r.layers("pipelines.historical_s") = (second(noop(Historical.build(st, trips, cd, stops, routes))), "s")
    r.layers("pipelines.diff_s") = (second(noop(DiffTimes.build(spark.read.parquet(m.tu.toString),
      Historical.build(st, trips, cd, stops, routes)))), "s")
    val tracer = new Tracer(true)
    (1 to 2).foreach(_ => MartDashboard.refresh(spark, m.mart, tracer))
    MartDashboard.tileNames.foreach(n => r.layers(n + "_s") = (tracer.durations(n).last, "s"))
  }

  /** How much slower `op` runs on one core than on this run's cores: a
    * second JVM at local[1] runs it twice on the same files and reports the
    * second time. */
  def speedup(c: Ctx, op: String, dir: Path, secondsHere: Double): Double = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val javaBin = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val cmd = (javaBin +: rt.getInputArguments.asScala.toSeq) ++ Seq("-cp", System.getProperty("java.class.path"),
      "transitbench.Main", "--rerun", op, "--work", dir.toString, "--seed", c.seed.toString, "--cores", "1")
    val log = c.work.resolve(s"rerun-$op.log")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!p.waitFor(150, TimeUnit.SECONDS)) {
      p.destroyForcibly(); p.waitFor()
      throw new IllegalStateException(s"one-core rerun of $op timed out")
    }
    val out = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
    val oneCore = "RERUN_S=([0-9.eE-]+)".r.findFirstMatchIn(out).map(_.group(1).toDouble)
      .getOrElse(throw new IllegalStateException(s"one-core rerun of $op failed, see $log"))
    oneCore / secondsHere
  }

  /** The one-core side of [[speedup]]. */
  def rerun(spark: SparkSession, op: String, dir: Path): Double = op match {
    case "merge" => mergeOnce(spark, FeedInputs(dir)); mergeOnce(spark, FeedInputs(dir))._1
    case "drain" => drainOnce(spark, FeedInputs(dir)); drainOnce(spark, FeedInputs(dir))
    case "build" => timeBuild(spark, MartInputs(dir.resolve("gtfs"), dir.resolve("trip_updates"), dir.resolve("mart1")))
  }
}
