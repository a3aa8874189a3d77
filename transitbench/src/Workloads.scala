package transitbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.analytics.Dashboard
import graft.pipelines.{DiffTimes, Historical}
import graft.streaming.{RealtimeRunner, RealtimeStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run measured. `e2e` holds the workload's end-to-end metrics,
  * `layers` the traced per-layer ones. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  /** Counts one operation; a failed output check is a failed operation. */
  def op(ok: Boolean, what: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"FAILED: $what" }
  }
}

/** Shared state of one run. `work` is the run's scratch directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Tracer, val work: Path, val cores: Int) {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })
  lazy val engine = new EngineProbe(spark)
  val jvm = new JvmProbe
  def dir(name: String): Path = { val p = work.resolve(name); Util.deleteTree(p); p }
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  /** Progress of batches that started at or after `fromMs` and had input. */
  def batchesSince(fromMs: Long): Seq[StreamingQueryProgress] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    progress.asScala.toSeq.filter(p => startMs(p) >= fromMs && p.numInputRows > 0)
  }
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + p.durationMs.get("triggerExecution").longValue
}

object Setup {
  /** setup_s: wall time from JVM start to the first timed operation. It
    * covers session start, input generation and the warm-up that lets the
    * JIT and Spark's lazy state settle. */
  def record(r: Result, warmS: Double): Unit = {
    val s = (Util.nowMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    r.e2e("setup_s") = (s, "s")
    r.notes += f"setup_s=$s%.3f s (session ready at ${Main.sessionReadyS}%.2f s, warm-up $warmS%.2f s)"
  }
  /** Expected results are computed on one driver thread while the inputs
    * are prepared and the system warms up; only set-up time sees it. */
  def background[T](body: => T): java.util.concurrent.Future[T] =
    java.util.concurrent.CompletableFuture.supplyAsync(() => body)
  def await[T](f: java.util.concurrent.Future[T]): T = f.get(120, java.util.concurrent.TimeUnit.SECONDS)
}

object Feeds {
  val Weather = "weather.json"

  def writeSeed(spark: SparkSession, rows: Seq[Row], path: Path, partitioned: Boolean): Unit = {
    val w = spark.createDataFrame(rows.asJava, FeedModel.snapshotSchema).repartition(4).write
    (if (partitioned) w.partitionBy("start_date") else w).parquet(path.toString)
  }

  /** (key, prediction) rows of the snapshot at `target`, without the run
    * stamps. */
  def readSnapshot(spark: SparkSession, target: Path): Seq[(Key, Pred)] = {
    val fs = new org.apache.hadoop.fs.Path(target.toString).getFileSystem(spark.sessionState.newHadoopConf())
    val cur = RealtimeStream.snapshotPath(fs, target.toString).get.toString
    spark.read.parquet(cur).select(col("trip_id"),
        coalesce(date_format(col("start_date"), "yyyyMMdd"), lit("")), col("stop_sequence"),
        col("stop_id"), unix_timestamp(col("arrival_time")), unix_timestamp(col("departure_time")))
      .collect().toSeq.map(r => (Key(r.getString(0), r.getString(1), r.getLong(2), r.getString(3)),
        Pred(r.getLong(4), r.getLong(5))))
  }

  /** Each landed file in exactly one committed batch, and nothing else. */
  def batchMap(ckpt: Path, landed: Seq[String]): Either[String, Map[String, Long]] = {
    val byFile = SourceLog.batchesByFile(ckpt)
    val done = SourceLog.committed(ckpt)
    val bad = landed.filterNot(f => byFile.get(f).exists(b => b.size == 1 && done.contains(b.head)))
    val extra = byFile.keySet -- landed
    if (bad.nonEmpty || extra.nonEmpty)
      Left(s"${bad.size} landed snapshots not in exactly one committed batch, ${extra.size} unknown files")
    else Right(byFile.map { case (f, b) => f -> b.head })
  }

  def name(k: Int): String = f"feed_$k%05d.pb"

  /** Flattened rows (stop time updates) of one snapshot. */
  def rows(m: graft.gtfs.FeedMessage): Long = m.entity.map(_.tripUpdate.fold(0)(_.stopTimeUpdate.size)).sum.toLong

  /** Per-layer streaming counters of these micro-batches. The progress
    * durations are whole milliseconds, so a per-batch median of the short
    * phases would read the same in every run; they are means per batch. */
  def streamingLayers(r: Result, batches: Seq[StreamingQueryProgress], filesPerBatch: Seq[Int]): Unit = {
    def mean(key: String): Double =
      batches.map(_.durationMs.get(key).doubleValue / 1e3).sum / math.max(1, batches.size)
    r.layers ++= Seq(
      "streaming.add_batch_s" -> (mean("addBatch"), "s"),
      "streaming.latest_offset_s" -> (mean("latestOffset"), "s"),
      "streaming.wal_commit_s" -> (mean("walCommit"), "s"),
      "streaming.commit_offsets_s" -> (mean("commitOffsets"), "s"),
      "streaming.scans_per_batch" -> (batches.map(_.numInputRows).sum.toDouble / math.max(1, filesPerBatch.sum), "ratio"),
      "streaming.backlog_max" -> (if (filesPerBatch.isEmpty) 0.0 else filesPerBatch.max.toDouble, "count"))
  }

  def snapshotLayers(r: Result, target: Path): Unit = {
    val (files, bytes) = Util.dataFiles(target)
    r.layers ++= Seq("streaming.snapshot_files" -> (files.toDouble, "count"),
      "streaming.snapshot_mb" -> (bytes / 1048576.0, "MB"))
  }
}

/** `feed_live`: an open loop landing one GTFS-RT snapshot every
  * `IntervalMs` into the partitioned streaming path, timed from each snapshot's due time to
  * the commit of the batch that took it. */
object FeedLive {
  /** Batches keep shortening over the first dozen snapshots (4.0, 1.9,
    * 1.5, 1.2 ... 0.9 s on a 4-core VM); timing them sooner adds that
    * trend to the run-to-run spread. */
  val Warmup = 14
  val SeedTripsPerDay = 200
  /** One snapshot every 2 s: a partitioned micro-batch takes 1.0-1.4 s on
    * a 4-core VM, so the stream idles about 40% of the time; at 1/s it
    * saturates and freshness grows for as long as the run lasts. */
  val IntervalMs = 2000L

  def run(c: Ctx, r: Result): Unit = {
    val model = new FeedModel(c.seed)
    val n = math.max(1, (c.seconds * 1000L / IntervalMs).toInt)
    val total = Warmup + n
    val weather = Gen.weatherJson(c.seed)
    val seedRows = model.seedRows(SeedTripsPerDay, weather)
    val expected = Setup.background {
      val e = new ExpectedState
      e.addSeed(seedRows)
      (0 until total).foreach(k => e.addSnapshot(model.snapshot(k)))
      e
    }
    val payloads = Util.parMap(0 until total, c.cores)(model.payload)
    val target = c.dir("live/snapshot")
    val seedS = Util.seconds(Feeds.writeSeed(c.spark, seedRows, target, partitioned = true))
    val drop = Files.createDirectories(c.dir("live/drop"))
    val ckpt = c.dir("live/checkpoint")
    val q = RealtimeStream.startFeedStream(c.spark, drop.toString, target.toString, ckpt.toString,
      () => Some(weather), Trigger.ProcessingTime(100L), partitionSnapshot = true)
    val late = new Array[Double](n)
    var t0 = 0L
    try {
      val warmS = seedS + Util.seconds((0 until Warmup).foreach { k =>
        Gen.land(drop, Feeds.name(k), payloads(k)); q.processAllAvailable()
      })
      Setup.await(expected) // not left running into the timed window
      Setup.record(r, warmS)
      // The generator runs on its own thread and keeps its schedule however
      // far the stream falls behind.
      t0 = Util.nowMs + 100
      val t0Ns = System.nanoTime() + 100L * 1000000L
      if (c.tracer.enabled) c.jvm.start()
      val gen = new Thread(() => (0 until n).foreach { i =>
        val due = t0Ns + i * IntervalMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        c.span("gen.land")(Gen.land(drop, Feeds.name(Warmup + i), payloads(Warmup + i)))
        late(i) = (System.nanoTime() - due) / 1e9
      }, "feed-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
    } finally q.stop()
    val t1 = Util.nowMs
    if (q.exception.isDefined) r.op(ok = false, s"stream failed: ${q.exception.get}")

    val landed = (0 until total).map(Feeds.name)
    val batches = c.batchesSince(t0)
    val commitAt = c.progress.asScala.map(p => p.batchId -> c.endMs(p)).toMap
    Feeds.batchMap(ckpt, landed) match {
      case Left(why) =>
        (0 until n).foreach(_ => r.op(ok = false, why))
      case Right(batchOf) =>
        val fresh = (0 until n).map { i =>
          val at = commitAt.get(batchOf(Feeds.name(Warmup + i)))
          r.op(at.isDefined, s"no progress for the batch of snapshot ${Warmup + i}")
          at.map(ms => (ms - (t0 + i * IntervalMs)) / 1e3).getOrElse(Double.NaN)
        }.filterNot(_.isNaN)
        val diff = Setup.await(expected).compare(Feeds.readSnapshot(c.spark, target))
        r.op(diff.ok, s"final snapshot is not the last-write-wins state: $diff")
        if (fresh.nonEmpty) {
          r.e2e("latency_p50_s") = (Stats.median(fresh), "s")
          r.notes += f"live_fresh_p50_s=${Stats.median(fresh)}%.4f s over ${fresh.size} snapshots"
          r.notes += Stats.tail90(fresh).fold(s"live_fresh_p90_s=n/a (${fresh.size} samples; p90 needs 100)")(
            v => f"live_fresh_p90_s=$v%.4f s")
        }
        val files = batches.map(b => batchOf.count(_._2 == b.batchId))
        r.notes += "batch ms: " + c.progress.asScala.filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution")).mkString(" ")
        r.notes += "fresh: " + fresh.map(x => f"$x%.3f").mkString(" ")
        // capacity: rows a batch takes over its duration, median over batches
        val rowsOf = (0 until total).map(k => Feeds.name(k) -> Feeds.rows(model.snapshot(k))).toMap
        val rate = batches.map { b =>
          batchOf.collect { case (f, id) if id == b.batchId => rowsOf(f) }.sum /
            (b.durationMs.get("triggerExecution").doubleValue / 1e3)
        }
        if (rate.nonEmpty) r.e2e("rows_per_s") = (Stats.median(rate), "rows/s")
        if (c.tracer.enabled) {
          Feeds.streamingLayers(r, batches, files)
          Feeds.snapshotLayers(r, target)
        }
    }
    if (c.tracer.enabled) {
      r.layers ++= c.engine.window(t0, t1, c.cores) ++ c.jvm.stop()
      r.layers ++= Seq("gen.late_s_p50" -> (Stats.median(late.toSeq), "s"), "gen.late_s_max" -> (late.max, "s"))
      val probe = Probes.feedInputs(c, model, payloads.takeRight(math.min(n, 20)), seedRows)
      Probes.all(c, r, probe, Probes.smallMart(c))
      r.layers("spark.speedup_vs_1core") =
        (Probes.speedup(c, "merge", probe.dir, r.layers("streaming.merge_s")._1), "ratio")
    }
  }
}

/** `feed_backfill`: one cron tick (`RealtimeRunner.runOnce`) drains a
  * backlog of missed snapshots through the whole-snapshot path. Closed
  * loop: the next drain starts when the previous one has been checked. */
object FeedBackfill {
  val Backlog = 120
  val MinDrains = 3
  val SeedTripsPerDay = 200

  def run(c: Ctx, r: Result): Unit = {
    val model = new FeedModel(c.seed)
    val weather = Gen.weatherJson(c.seed)
    val seedRows = model.seedRows(SeedTripsPerDay, weather)
    val base = c.work.resolve("backfill")
    val expectedF = Setup.background {
      val e = new ExpectedState
      e.addSeed(seedRows)
      val rows = (0 until Backlog).map { k =>
        val m = model.snapshot(k)
        e.addSnapshot(m)
        Feeds.rows(m)
      }.sum
      (e, rows)
    }
    lazy val (expected, rows) = Setup.await(expectedF)
    val drop = c.dir("backfill/drop")
    Util.parMap(0 until Backlog, c.cores)(k => Gen.land(drop, Feeds.name(k), model.payload(k)))
    val seedS = Util.seconds {
      Feeds.writeSeed(c.spark, seedRows, c.dir("backfill/seed"), partitioned = false)
      Files.write(base.resolve(Feeds.Weather), weather.getBytes(StandardCharsets.UTF_8))
    }
    val landed = (0 until Backlog).map(Feeds.name)

    var drains = 0
    /** One drain into a fresh copy of the seed snapshot, then its checks. */
    def drain(from: Path): (Double, Long) = {
      drains += 1
      val target = c.dir(s"backfill/snapshot$drains")
      val ckpt = c.dir(s"backfill/checkpoint$drains")
      Util.copyTree(base.resolve("seed"), target)
      val cfg = RealtimeRunner.Config(feedUrl = "file:/nonexistent", dropDir = from.toString,
        targetPath = target.toString, checkpointDir = ckpt.toString,
        weatherUrl = Some(base.resolve(Feeds.Weather).toUri.toString),
        weatherStatePath = base.resolve("weather.state").toString, fetchCycles = 0)
      val startMs = Util.nowMs
      val s = Util.seconds(c.span("streaming.drain")(RealtimeRunner.runOnce(c.spark, cfg)))
      (s, startMs)
    }
    /** Checks drain `i`; a traced run keeps the size of the snapshot the
      * last drain wrote. */
    def check(i: Int): Unit = {
      val (ckpt, target) = (base.resolve(s"checkpoint$i"), base.resolve(s"snapshot$i"))
      Feeds.batchMap(ckpt, landed) match {
        case Left(why) => r.op(ok = false, why)
        case Right(_) =>
          val diff = expected.compare(Feeds.readSnapshot(c.spark, target))
          r.op(diff.ok, s"drain $i: snapshot is not the last-write-wins state: $diff")
      }
      if (c.tracer.enabled) Feeds.snapshotLayers(r, target)
      Util.deleteTree(ckpt); Util.deleteTree(target)
    }

    // warm-up: one full drain; a shorter one leaves the timed drains cold
    val (warmS, _) = drain(drop)
    Seq("snapshot", "checkpoint").foreach(d => Util.deleteTree(base.resolve(s"$d$drains")))
    Setup.await(expectedF) // not left running into the timed window
    Setup.record(r, seedS + warmS)

    if (c.tracer.enabled) c.jvm.start()
    val t0 = Util.nowMs
    val deadline = t0 + c.seconds * 1000L
    val times = mutable.ArrayBuffer.empty[Double]
    val gaps = mutable.ArrayBuffer.empty[Double]
    var lastEnd = t0
    // at least three drains, so the median drops the slower first one
    while (times.size < MinDrains || Util.nowMs < deadline) {
      val (s, startMs) = drain(drop)
      gaps += (startMs - lastEnd) / 1e3
      times += s
      lastEnd = Util.nowMs
      check(drains)
    }
    val t1 = Util.nowMs
    val med = Stats.median(times.toSeq)
    r.e2e("latency_p50_s") = (med, "s")
    r.e2e("rows_per_s") = (rows / med, "rows/s")
    r.notes += f"backfill_rows_per_s=${rows / med}%.1f rows/s ($rows rows of $Backlog snapshots, median of ${times.size} drains)"
    r.notes += "series: drains " + times.map(x => f"$x%.2f").mkString(" ")
    if (c.tracer.enabled) {
      val batches = c.batchesSince(t0)
      Feeds.streamingLayers(r, batches, batches.map(_ => Backlog))
      r.layers ++= c.engine.window(t0, t1, c.cores) ++ c.jvm.stop()
      r.layers ++= Seq("gen.late_s_p50" -> (Stats.median(gaps.toSeq), "s"), "gen.late_s_max" -> (gaps.max, "s"))
      r.layers("streaming.drain_s") = (med, "s")
      val probe = Probes.feedInputs(c, model, (0 until 20).map(model.payload), seedRows)
      Probes.all(c, r, probe, Probes.smallMart(c))
      r.layers("spark.speedup_vs_1core") =
        (Probes.speedup(c, "drain", probe.dir, Probes.timeDrain(c, probe)), "ratio")
    }
  }
}

/** `mart_dashboard`: schedule → mart builds and back-to-back A1–A5
  * refreshes over the written mart, one client. */
object MartDashboard {
  val Trips = 600
  val WarmBuilds = 2
  /** Refreshes keep speeding up for about eight runs (3.7, 1.7, 1.5 ...
    * 1.2 s on a 4-core VM), so the median of a few is still on that trend. */
  val WarmRefreshes = 8
  val MinRefreshes = 8
  val MinBuilds = 5
  val Slicer = Slice(Some("Rain"), Some("R07"), None)

  /** GTFS dir → `Historical` → `DiffTimes` → written mart. The first two
    * only build plans; all the work runs inside `writeMart`. */
  def build(spark: SparkSession, gtfs: Path, tu: Path, mart: Path): Unit = {
    val (st, trips, cd, stops, routes) = Historical.readGtfsDir(spark, gtfs.toString)
    val gd = Historical.build(st, trips, cd, stops, routes)
    DiffTimes.writeMart(DiffTimes.build(spark.read.parquet(tu.toString), gd), mart.toString)
  }

  val tileNames = Seq("analytics.avg_delay_by_hour", "analytics.avg_delay_sliced",
    "analytics.peak_hours", "analytics.stop_density", "analytics.delay_rollup")

  def tiles(mart: DataFrame): Seq[DataFrame] = Seq(
    Dashboard.avgDelayByHour(mart),
    Dashboard.avgDelayByHourSliced(mart, Slicer.weather, Slicer.route, Slicer.day),
    Dashboard.peakHours(mart), Dashboard.stopDensity(mart), Dashboard.delayRollup(mart))

  /** One dashboard refresh: every tile computed and fetched. */
  def refresh(spark: SparkSession, mart: Path, t: Tracer): Seq[Map[Seq[Any], Seq[Any]]] = {
    val df = spark.read.parquet(mart.toString)
    tiles(df).zip(tileNames).map { case (tile, name) =>
      val keys = tile.columns.length - (if (name == "analytics.stop_density") 1 else 2)
      t.span(name)(tile.collect()).map(r => (r.toSeq.take(keys), r.toSeq.drop(keys))).toMap
    }
  }

  def checkRefresh(r: Result, got: Seq[Map[Seq[Any], Seq[Any]]], exp: Tiles): Unit =
    r.op(exp.tiles.zip(got).forall { case (e, a) => Tiles.sameTile(e, a) },
      "a dashboard tile differs from the expected values")

  def run(c: Ctx, r: Result): Unit = {
    val model = MartModel(c.seed, Trips)
    val (gtfs, tu) = (c.dir("mart/gtfs"), c.dir("mart/trip_updates"))
    model.writeGtfsDir(gtfs); model.writeTripUpdates(c.spark, tu.toString)
    val expF = Setup.background(model.expectedTiles(Slicer))
    lazy val exp = Setup.await(expF)
    val mart = c.work.resolve("mart/mart")
    def checkedBuild(): Double = {
      val s = Util.seconds(c.span("pipelines.mart_build")(build(c.spark, gtfs, tu, mart)))
      val rows = c.spark.read.parquet(mart.toString).count()
      r.op(rows == exp.martRows, s"mart has $rows rows, expected ${exp.martRows}")
      s
    }
    val warmS = Util.seconds {
      // a build still speeds up on its second and third run
      val wb = (1 to WarmBuilds).map(_ => checkedBuild())
      val wr = (1 to WarmRefreshes).map(_ => Util.timed(checkRefresh(r, refresh(c.spark, mart, c.tracer), exp))._2)
      r.notes += "warm: builds " + wb.map(x => f"$x%.2f").mkString(" ") + " refreshes " + wr.map(x => f"$x%.2f").mkString(" ")
    }
    Setup.record(r, warmS)

    // Refreshes take the first 40% of the run, builds the rest; each is a
    // median of at least `MinRefreshes` and `MinBuilds` samples.
    if (c.tracer.enabled) c.jvm.start()
    val t0 = Util.nowMs
    val refreshes = mutable.ArrayBuffer.empty[Double]
    while (refreshes.size < MinRefreshes || Util.nowMs < t0 + c.seconds * 400L) {
      val (got, s) = Util.timed(c.span("dashboard.refresh")(refresh(c.spark, mart, c.tracer)))
      refreshes += s
      checkRefresh(r, got, exp)
    }
    val builds = mutable.ArrayBuffer.empty[Double]
    while (builds.size < MinBuilds || Util.nowMs < t0 + c.seconds * 1000L) builds += checkedBuild()
    val t1 = Util.nowMs
    val buildS = Stats.median(builds.toSeq)
    r.e2e("latency_p50_s") = (Stats.median(refreshes.toSeq), "s")
    r.e2e("rows_per_s") = (model.stopTimeDates / buildS, "rows/s")
    r.notes += f"mart_build_s=$buildS%.4f s (median of ${builds.size}; ${model.stopTimeDates} stop_time x date rows, ${exp.martRows} mart rows)"
    r.notes += f"dash_refresh_p50_s=${Stats.median(refreshes.toSeq)}%.4f s over ${refreshes.size} refreshes"
    r.notes += "series: builds " + builds.map(x => f"$x%.2f").mkString(" ") + " refreshes " + refreshes.map(x => f"$x%.2f").mkString(" ")
    r.notes += Stats.tail90(refreshes.toSeq).fold(s"dash_refresh_p90_s=n/a (${refreshes.size} samples; p90 needs 100)")(
      v => f"dash_refresh_p90_s=$v%.4f s")
    if (c.tracer.enabled) {
      r.layers ++= c.engine.window(t0, t1, c.cores) ++ c.jvm.stop()
      val gaps = c.tracer.all.filter(_.name == "dashboard.refresh").sliding(2).collect {
        case Seq(a, b) => (b.startNs - a.endNs) / 1e9 }.toSeq
      r.layers ++= Seq("gen.late_s_p50" -> (Stats.median(gaps), "s"), "gen.late_s_max" -> (gaps.max, "s"))
      val feed = new FeedModel(c.seed)
      val probe = Probes.feedInputs(c, feed, (0 until 20).map(feed.payload),
        feed.seedRows(FeedLive.SeedTripsPerDay, Gen.weatherJson(c.seed)))
      Probes.all(c, r, probe, Probes.MartInputs(gtfs, tu, mart))
      // one-core rerun on the small mart: the full build at local[1] would
      // take most of the traced run's time budget
      val small = Probes.smallMart(c)
      r.layers("spark.speedup_vs_1core") = (Probes.speedup(c, "build", small.gtfs.getParent,
        Probes.timeBuild(c.spark, small)), "ratio")
    }
  }
}
