package transitbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{DayOfWeek, LocalDate, LocalDateTime, ZoneId}
import java.time.format.{DateTimeFormatter, TextStyle}

import graft.gtfs._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Seeded input generator. Every value is a pure function of the seed and
  * an index (see [[Gen.h]]), so the plain-Scala expected results and the
  * files the library reads are computed from the same definitions without
  * sharing any state. The library only ever sees the files written here. */
object Gen {
  val Tz: ZoneId = ZoneId.of("America/Toronto")
  val Ymd: DateTimeFormatter = DateTimeFormatter.BASIC_ISO_DATE
  val StopsPerTrip = 25
  val NumStops = 1500
  val NumRoutes = 40

  /** SplitMix64 finaliser over the seed and up to four indices. */
  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a
    z = z * 0xBF58476D1CE4E5B9L + b
    z = z * 0x94D049BB133111EBL + c
    z = z * 0x9E3779B97F4A7C15L + d
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def uniform(seed: Long, a: Long, b: Long, c: Long, d: Long, n: Int): Int =
    java.lang.Math.floorMod(h(seed, a, b, c, d), n.toLong).toInt

  /** Service days sit in June/July, away from DST changes, so the local
    * wall clock of a GTFS time is one fixed UTC offset. */
  def baseDate(seed: Long): LocalDate =
    LocalDate.of(2026, 6, 1).plusDays(uniform(seed, 1, 0, 0, 0, 21).toLong)

  def epoch(date: LocalDate, clockSecs: Long): Long =
    LocalDateTime.of(date, java.time.LocalTime.MIDNIGHT).plusSeconds(clockSecs)
      .atZone(Tz).toEpochSecond

  /** GTFS stop ids are numeric; the realtime feed spells a few of them
    * with a letter, which the mart's try_cast join must drop. */
  def stopNum(seed: Long, trip: Int, j: Int): Int =
    1000 + ((uniform(seed, 2, trip, 0, 0, NumStops) + j * 7) % NumStops)
  def rtStopId(n: Int): String = if (n % 251 == 0) s"X$n" else n.toString

  /** Atomic landing, as FetchLoop.fetchOnce does it: a hidden temp name the
    * binaryFile source ignores, then one rename. */
  def land(dir: Path, name: String, bytes: Array[Byte]): Path = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    val out = dir.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
    out
  }

  def weatherJson(seed: Long): String = {
    val id = Seq(800, 801, 500, 600)(uniform(seed, 3, 0, 0, 0, 4))
    s"""{"weather":[{"id":$id,"main":"x","description":"cond $id"}],"main":{"temp":${290 + uniform(seed, 4, 0, 0, 0, 15)}.5,"humidity":50.0}}"""
  }
  def weatherGroupOf(json: String): String = {
    val id = "\"id\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toInt
    if (id == 800) "Clear" else if (id >= 800 && id <= 899) "Clouds"
    else if (id >= 500 && id <= 599) "Rain" else if (id >= 600 && id <= 699) "Snow"
    else "Unknown"
  }
  def temperatureOf(json: String): Double =
    "\"temp\":([0-9.]+)".r.findFirstMatchIn(json).get.group(1).toDouble - 273.15
}

/** One key of the realtime snapshot; `startDate` is yyyyMMdd, "" = absent. */
final case class Key(tripId: String, startDate: String, seq: Long, stopId: String)
/** Predicted epochs in seconds; 0 is the library's "no prediction" value. */
final case class Pred(arr: Long, dep: Long)

/** The realtime feed of one service day: `TripsPerMinute` trips start each
  * minute from 05:00 and run for 30 minutes, so every snapshot carries the
  * same ~300 active trips × 25 stops and each key recurs in ~30 snapshots.
  * Real-feed mess: a few trips are sent twice in one snapshot (the later
  * entity wins), ~4% of stops lack one or both predictions, some trips omit
  * start_date, and some stop ids are not numeric. */
final class FeedModel(val seed: Long) {
  import Gen._
  val TripsPerMinute = 10
  val TripMinutes = 30
  val FirstMinute = 300
  val date: LocalDate = baseDate(seed).plusDays(20)
  val dateStr: String = date.format(Ymd)

  private def tripDelay(trip: Int, minute: Int): Long =
    uniform(seed, 10, trip, minute, 0, 660).toLong - 60

  /** Snapshot `k` describes sim minute FirstMinute + TripMinutes + k. */
  def snapshot(k: Int): FeedMessage = {
    val minute = FirstMinute + TripMinutes + k
    val first = (minute - TripMinutes + 1 - FirstMinute) * TripsPerMinute
    val last = (minute - FirstMinute + 1) * TripsPerMinute
    val ents = Vector.newBuilder[FeedEntity]
    val repeats = Vector.newBuilder[FeedEntity]
    for (t <- first until last) {
      ents += entity(t, minute, 0)
      if (uniform(seed, 11, t, minute, 0, 40) == 0) repeats += entity(t, minute, 1)
    }
    FeedMessage(FeedHeader("2.0", Some(epoch(date, minute * 60L))),
      ents.result() ++ repeats.result())
  }

  private def entity(t: Int, minute: Int, copy: Int): FeedEntity = {
    val startMin = FirstMinute + t / TripsPerMinute
    val delay = tripDelay(t, minute) + copy * 37
    val noDate = t % 211 == 5
    val stus = (0 until StopsPerTrip).map { j =>
      val sched = epoch(date, startMin * 60L + j * 72L)
      val miss = uniform(seed, 12, t, minute, j, 50)
      val arr = if (miss <= 1) None else Some(StopTimeEvent(Some(delay.toInt), Some(sched + delay), None))
      val dep = if (miss == 0) None else Some(StopTimeEvent(Some(delay.toInt), Some(sched + delay + 20), None))
      StopTimeUpdate(Some(j + 1), arr, dep, Some(rtStopId(stopNum(seed, t, j))))
    }
    FeedEntity(s"e$minute-$t-$copy", None, Some(TripUpdate(
      TripDescriptor(Some(f"T$t%05d"), Some(f"${startMin / 60}%02d:${startMin % 60}%02d:00"),
        if (noDate) None else Some(dateStr), Some(f"R${t % NumRoutes}%02d")),
      stus, Some(epoch(date, minute * 60L)), Some(delay.toInt))))
  }

  def payload(k: Int): Array[Byte] = Rt.encode(snapshot(k))

  /** Two weeks of past service dates already in the snapshot when a feed
    * workload starts, `tripsPerDay` trips each. */
  def seedRows(tripsPerDay: Int, weather: String): Seq[Row] = {
    val stamp = new java.sql.Timestamp(epoch(date, 0) * 1000L)
    for {
      d <- 1 to 14
      day = date.minusDays(d.toLong)
      t <- 0 until tripsPerDay
      j <- 0 until StopsPerTrip
    } yield {
      val sched = epoch(day, (FirstMinute + t * 1080L / tripsPerDay) * 60L + j * 72L)
      val delay = uniform(seed, 13, d, t, j, 600).toLong
      Row(f"T$t%05d", java.sql.Date.valueOf(day), (j + 1).toLong,
        rtStopId(stopNum(seed, t, j)), new java.sql.Timestamp((sched + delay) * 1000L),
        new java.sql.Timestamp((sched + delay + 20) * 1000L), weatherGroupOf(weather),
        "seeded", Gen.temperatureOf(weather), stamp, stamp)
    }
  }
}

object FeedModel {
  /** The realtime snapshot's schema, as `Realtime.observations` emits it. */
  val snapshotSchema: StructType = StructType(Seq(
    StructField("trip_id", StringType), StructField("start_date", DateType),
    StructField("stop_sequence", LongType), StructField("stop_id", StringType),
    StructField("arrival_time", TimestampType), StructField("departure_time", TimestampType),
    StructField("weather_group", StringType), StructField("weather_description", StringType),
    StructField("temperature", DoubleType), StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))
}

/** The generator's own last-write-wins state: snapshots in landing order,
  * entities and stop updates in feed order, the last write of a key wins.
  * Every earlier value of a key is kept too, so a mismatch can be told
  * apart as stale (an older snapshot's value won) or wrong. */
final class ExpectedState {
  val state = mutable.HashMap.empty[Key, Pred]
  private val earlier = mutable.HashMap.empty[Key, List[Pred]]
  def addRow(k: Key, p: Pred): Unit = {
    state.put(k, p).foreach(old => earlier.update(k, old :: earlier.getOrElse(k, Nil)))
  }
  def addSnapshot(m: FeedMessage): Unit =
    for (e <- m.entity; tu <- e.tripUpdate; s <- tu.stopTimeUpdate)
      addRow(
        Key(tu.trip.tripId.getOrElse(""), tu.trip.startDate.getOrElse(""),
          s.stopSequence.getOrElse(0).toLong, s.stopId.getOrElse("")),
        Pred(s.arrival.flatMap(_.time).getOrElse(0L),
          s.departure.flatMap(_.time).getOrElse(0L)))
  def addSeed(rows: Seq[Row]): Unit = rows.foreach { r =>
    addRow(Key(r.getString(0), r.getDate(1).toLocalDate.format(Gen.Ymd), r.getLong(2),
      r.getString(3)), Pred(r.getTimestamp(4).getTime / 1000L, r.getTimestamp(5).getTime / 1000L))
  }

  /** How `actual` (key, arrival epoch, departure epoch) departs from the
    * expected state. */
  def compare(actual: Iterable[(Key, Pred)]): Diff = {
    var stale = 0L; var wrong = 0L
    val seen = mutable.HashSet.empty[Key]
    actual.foreach { case (k, p) =>
      if (!seen.add(k)) wrong += 1
      else if (!state.get(k).contains(p)) {
        if (earlier.getOrElse(k, Nil).contains(p)) stale += 1 else wrong += 1
      }
    }
    Diff(stale, wrong, state.size - seen.count(state.contains))
  }
}

/** Keys holding an older snapshot's value, keys holding a value no snapshot
  * sent (or repeated rows), and expected keys that are absent. */
final case class Diff(stale: Long, wrong: Long, missing: Long) {
  def ok: Boolean = stale == 0 && wrong == 0 && missing == 0
  override def toString: String = s"$stale stale keys, $wrong wrong rows, $missing missing keys"
}

/** The static schedule and the realtime `trip_updates` table of the mart
  * workload. Trips run on a weekday, a Saturday or a Sunday service over
  * four weeks; some run past midnight (GTFS clocks ≥ 24:00:00). About 60%
  * of scheduled stop visits have a realtime row; some of those lack a
  * prediction (epoch-0 sentinel), some carry a non-numeric stop id, and a
  * few realtime rows match no scheduled trip at all. */
final case class MartModel(seed: Long, numTrips: Int) {
  import Gen._
  val first: LocalDate = baseDate(seed)
  val dates: Seq[LocalDate] = (0 until 28).map(d => first.plusDays(d.toLong))
  def service(trip: Int): Int = trip % 10 match {
    case x if x < 6 => 1
    case 6 | 7 => 2
    case _ => 3
  }
  def runsOn(service: Int, d: LocalDate): Boolean = d.getDayOfWeek match {
    case DayOfWeek.SATURDAY => service == 2
    case DayOfWeek.SUNDAY => service == 3
    case _ => service == 1
  }
  def tripDates(trip: Int): Seq[LocalDate] = dates.filter(runsOn(service(trip), _))
  def startSecs(trip: Int): Long = 300L * 60 + uniform(seed, 20, trip, 0, 0, 1200 * 60)
  def clockSecs(trip: Int, j: Int): Long = startSecs(trip) + j * 72L
  def clock(s: Long): String = f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
  def route(trip: Int): String = f"R${trip % NumRoutes}%02d"
  def stopName(n: Int): String = s"Stop $n"
  def geo(n: Int): String = f"46.${n * 37 % 10000}%04d, -81.${n * 53 % 10000}%04d"
  def weather(d: LocalDate): String = Seq("Clear", "Clouds", "Rain", "Snow")(
    uniform(seed, 21, d.toEpochDay, 0, 0, 4))

  /** Realtime row for a scheduled visit, if any: (rt stop id, actual arrival
    * epoch, actual departure epoch), 0 = sentinel. */
  def observed(trip: Int, day: Int, j: Int): Option[(String, Long, Long)] = {
    val u = uniform(seed, 22, trip, day, j, 1000)
    if (u >= 600) None
    else {
      val n = stopNum(seed, trip, j)
      val sid = if (u < 8) s"S$n" else n.toString
      val sched = epoch(dates(day), clockSecs(trip, j))
      val delay = uniform(seed, 23, trip, day, j, 900).toLong - 120
      val arr = if (u >= 590) 0L else sched + delay
      val dep = if (u >= 596) 0L else sched + delay + 20
      Some((sid, arr, dep))
    }
  }

  def writeGtfsDir(dir: Path): Unit = {
    Files.createDirectories(dir)
    def write(name: String, header: String, lines: Iterator[String]): Unit = {
      val w = Files.newBufferedWriter(dir.resolve(s"$name.txt"), StandardCharsets.UTF_8)
      try { w.write(header); w.write("\n"); lines.foreach { l => w.write(l); w.write("\n") } }
      finally w.close()
    }
    write("routes", "route_id,route_short_name,route_long_name",
      (0 until NumRoutes).iterator.map(r => f"R$r%02d,$r,Route $r"))
    write("stops", "stop_id,stop_name,stop_lat,stop_lon",
      (1000 until 1000 + NumStops).iterator.map { n =>
        val Array(lat, lon) = geo(n).split(", ")
        s"$n,${stopName(n)},$lat,$lon"
      })
    write("trips", "route_id,service_id,trip_id",
      (0 until numTrips).iterator.map(t => f"${route(t)},${service(t)},M$t%05d"))
    write("calendar_dates", "service_id,date,exception_type",
      (for (s <- 1 to 3; d <- dates if runsOn(s, d)) yield s"$s,${d.format(Ymd)},1").iterator)
    write("stop_times", "trip_id,arrival_time,departure_time,stop_id,stop_sequence",
      for (t <- (0 until numTrips).iterator; j <- 0 until StopsPerTrip) yield {
        val c = clockSecs(t, j)
        f"M$t%05d,${clock(c)},${clock(c + 20)},${stopNum(seed, t, j)},${j + 1}"
      })
  }

  /** `trip_updates` in DiffTimes' documented realtime schema, generated in
    * parallel from the same pure functions the expected values use. */
  def writeTripUpdates(spark: SparkSession, path: String): Unit = {
    val m = this
    val rows = spark.sparkContext.parallelize(0 until numTrips, 8).flatMap { t =>
      val ds = m.dates.zipWithIndex.filter { case (d, _) => m.runsOn(m.service(t), d) }
      val real = for {
        (d, di) <- ds
        j <- 0 until StopsPerTrip
        (sid, arr, dep) <- m.observed(t, di, j)
      } yield m.tuRow(f"M$t%05d", d, j, sid, arr, dep)
      // a trip the schedule does not know: joins nothing
      val ghost = if (t % 97 == 0) Seq(m.tuRow(f"G$t%05d", ds.head._1, 0, "1000", 1L, 1L)) else Nil
      real ++ ghost
    }
    spark.createDataFrame(rows, FeedModel.snapshotSchema)
      .write.mode("overwrite").parquet(path)
  }

  def tuRow(trip: String, d: LocalDate, j: Int, sid: String, arr: Long, dep: Long): Row = {
    val w = weather(d)
    val stamp = new java.sql.Timestamp(epoch(d, 0) * 1000L)
    Row(trip, java.sql.Date.valueOf(d), (j + 1).toLong, sid,
      new java.sql.Timestamp(arr * 1000L), new java.sql.Timestamp(dep * 1000L),
      w, s"$w today", 12.5, stamp, stamp)
  }

  def stopTimeDates: Long = (0 until numTrips).map(t => tripDates(t).size.toLong).sum * StopsPerTrip

  /** A1–A5 and the mart row count, computed row by row in plain Scala with
    * the library's documented semantics (sentinel-aware delays, exact
    * decimal(20,6) averaging, local hour and weekday of the scheduled
    * arrival). */
  def expectedTiles(slice: Slice): Tiles = {
    val a1 = mutable.HashMap.empty[Long, Acc]
    val a2 = mutable.HashMap.empty[Long, Acc]
    val a3 = mutable.HashMap.empty[Long, (mutable.HashSet[String], Array[Long])]
    val a4 = mutable.HashMap.empty[(String, String), Long]
    val a5 = mutable.HashMap.empty[(Option[String], Option[Long]), Acc]
    var rows = 0L
    for (t <- 0 until numTrips; (d, di) <- dates.zipWithIndex if runsOn(service(t), d);
         j <- 0 until StopsPerTrip; (sid, arr, dep) <- observed(t, di, j)
         if sid.forall(_.isDigit)) {
      rows += 1
      val c = clockSecs(t, j)
      val schedArr = epoch(d, c); val schedDep = epoch(d, c + 20)
      val avg: Option[Double] =
        if (arr != 0 && dep != 0) Some(((arr - schedArr) + (dep - schedDep)) / 120.0)
        else if (arr == 0 && dep != 0) Some((dep - schedDep) / 60.0)
        else if (arr != 0 && dep == 0) Some((arr - schedArr) / 60.0)
        else None
      val hour = c / 3600 % 24
      val day = d.plusDays(c / 86400).getDayOfWeek.getDisplayName(TextStyle.FULL, java.util.Locale.ENGLISH)
      val n = stopNum(seed, t, j)
      a1.getOrElseUpdate(hour, new Acc).add(avg)
      if (slice.matches(weather(d), route(t), day)) a2.getOrElseUpdate(hour, new Acc).add(avg)
      val p = a3.getOrElseUpdate(hour, (mutable.HashSet.empty[String], Array(0L)))
      p._1 += f"M$t%05d"; p._2(0) += 1
      a4.update((geo(n), stopName(n)), a4.getOrElse((geo(n), stopName(n)), 0L) + 1)
      for (k <- Seq((Some(day), Some(hour)), (Some(day), None), (None, None)))
        a5.getOrElseUpdate(k, new Acc).add(avg)
    }
    Tiles(rows,
      a1.map { case (k, a) => (Seq[Any](k), a.result) }.toMap,
      a2.map { case (k, a) => (Seq[Any](k), a.result) }.toMap,
      a3.map { case (k, (s, n)) => (Seq[Any](k), Seq[Any](s.size.toLong, n(0))) }.toMap,
      a4.map { case ((g, s), n) => (Seq[Any](g, s), Seq[Any](n)) }.toMap,
      a5.map { case ((d, hr), a) => (Seq[Any](d.orNull, hr.map(Long.box).orNull), a.result) }.toMap)
  }
}

/** The dashboard's A2 slicer settings. */
final case class Slice(weather: Option[String], route: Option[String], day: Option[String]) {
  def matches(w: String, r: String, d: String): Boolean =
    weather.forall(_ == w) && route.forall(_ == r) && day.forall(_ == d)
}

/** exactAvg's arithmetic: each value cast to decimal(20,6) half-up, summed
  * exactly, the sum cast to double and divided by the non-null count. */
final class Acc {
  private var sum = BigDecimal(0)
  private var nonNull = 0L
  private var rows = 0L
  def add(v: Option[Double]): Unit = {
    rows += 1
    v.foreach { x =>
      sum += BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP); nonNull += 1
    }
  }
  def result: Seq[Any] =
    Seq(if (nonNull == 0) null else java.lang.Double.valueOf(sum.toDouble / nonNull), rows)
}

/** A1–A5 as maps from grouping values to aggregate values, plus the mart's
  * row count. */
final case class Tiles(martRows: Long, a1: Map[Seq[Any], Seq[Any]], a2: Map[Seq[Any], Seq[Any]],
                       a3: Map[Seq[Any], Seq[Any]], a4: Map[Seq[Any], Seq[Any]],
                       a5: Map[Seq[Any], Seq[Any]]) {
  def tiles: Seq[Map[Seq[Any], Seq[Any]]] = Seq(a1, a2, a3, a4, a5)
}

object Tiles {
  /** Values agree when equal, or for doubles within 1e-9 relative. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    case (x: Number, y: Number) => x.longValue == y.longValue
    case _ => a == b
  }
  def sameTile(exp: Map[Seq[Any], Seq[Any]], act: Map[Seq[Any], Seq[Any]]): Boolean =
    exp.size == act.size && exp.forall { case (k, v) =>
      act.get(k).exists(a => a.size == v.size && a.zip(v).forall { case (x, y) => same(x, y) })
    }
}
