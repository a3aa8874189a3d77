package graft.pipelines

import graft.functions.{TimeOps, WeatherOps}
import graft.gtfs.Rt
import graft.operators.Upsert
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** E1 — the reference's realtime micro-batch
  * (`reference/scripts/realtime_extractor.py::main`): decode the fetched
  * protobuf feed (S2), normalize epochs to timestamps with the epoch-0
  * "no prediction" sentinel as the missing-value default (the DB column
  * default in the reference, README.md:131-132), attach the single weather
  * observation (S5 — one fetched JSON document per run, broadcast as
  * literal columns after parsing), stamp created/updated with one run-level
  * instant (F12), dedup repeated keys to the latest entity, and S9-merge
  * into the keyed snapshot.
  *
  * The reference does all of this row-at-a-time into Postgres (one
  * statement per row, its acknowledged bottleneck); here the whole batch
  * is one declarative plan ending in a set-oriented merge. */
object Realtime {

  /** Flatten one run's fetched feed payloads into the trip_updates schema
    * (pre-merge): epoch-0 sentinel for absent predictions, weather columns
    * attached, run-stamped audit columns. `weatherJson` is the raw
    * OpenWeatherMap payload fetched once per run (None → NULL weather, as
    * when the reference's throttle skips the call). */
  def observations(feeds: Dataset[Array[Byte]], weatherJson: Option[String])
                  (implicit s: SparkSession): DataFrame =
    enrich(Rt.decodeFlatten(feeds).toDF(), weatherJson)

  /** [[observations]]' column mapping over flattened rows, carrying
    * `keep` through unchanged. */
  private def enrich(flat: DataFrame, weatherJson: Option[String],
                     keep: Column*): DataFrame = {
    val epoch0 = timestamp_seconds(lit(0L))
    def obsTime(c: String) =
      coalesce(timestamp_seconds(col(c)), epoch0)
    // One weather document per run: parse once, attach as literal-derived
    // columns (the 1-row broadcast shape; no join needed).
    val w = weatherJson.map(j => WeatherOps.parseWeatherJson(lit(j)))
    val stamp = TimeOps.runStamp()
    flat.select(Seq(
        col("trip_id"),
        // F13 — try_to_date: start_date is OPTIONAL in GTFS-realtime and
        // Rt.flatten surfaces an absent one as "" — a plain to_date would
        // throw under ANSI and kill the whole micro-batch for one entity;
        // NULL lets the row flow (and never match a schedule) instead.
        expr("try_to_date(start_date, 'yyyyMMdd')").as("start_date"),
        col("stop_sequence"),
        col("stop_id"),
        obsTime("arrival_epoch").as("arrival_time"),
        obsTime("departure_epoch").as("departure_time"),
        w.map(p => WeatherOps.weatherGroup(p.getField("weather_id")))
          .getOrElse(lit(null).cast("string")).as("weather_group"),
        w.map(_.getField("weather_description"))
          .getOrElse(lit(null).cast("string")).as("weather_description"),
        w.map(_.getField("temperature"))
          .getOrElse(lit(null).cast("double")).as("temperature"),
        stamp.as("created_at"),
        stamp.as("updated_at")) ++ keep: _*)
  }

  /** The realtime snapshot's key. */
  private[graft] val keys: Seq[String] =
    Seq("trip_id", "start_date", "stop_sequence", "stop_id")

  /** E1's dedup, shared by [[microBatch]] and the partitioned stream
    * merge: observations → landing sequence → the latest entity per key
    * (the feed repeats keys across entities and snapshots, SURVEY.md
    * §7.4). `landed` holds one payload per row in `content`; a binaryFile
    * stream batch also carries each file's `path`. The reference's
    * row-at-a-time loop makes the LAST entity of the LAST snapshot win,
    * so the sequence is the path, then the position within the payload
    * (monotonically_increasing_id right after the flatMap). Names sort
    * in landing order — FetchLoop lands `feed_<fetch stamp>_<seq>.pb` —
    * while modificationTime does not order files that were written
    * concurrently or copied, and the id alone follows Spark's
    * size-sorted file packing, which let an older snapshot win. */
  private[graft] def latestObservations(landed: DataFrame,
                                        weatherJson: Option[String])
                                       (implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val path =
      if (landed.columns.contains("path")) col("path") else lit(null)
    val flat = landed.select(path.cast("string"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, b) => Rt.flatten(Rt.decode(b)).map((p, _)) }
      .select(struct(col("_1"), monotonically_increasing_id()).as("__seq"),
        col("_2.*"))
    Upsert.latestPerKey(enrich(flat, weatherJson, col("__seq")), keys, "__seq")
      .drop("__seq")
  }

  /** One full micro-batch: [[latestObservations]] (feed order breaks key
    * ties) → S9 conditional merge into the existing snapshot (None =
    * first run). Update detection compares the predicted times, as the
    * reference's ON CONFLICT ... WHERE clause does
    * (realtime_extractor.py:208-218). */
  def microBatch(feeds: Dataset[Array[Byte]], weatherJson: Option[String],
                 target: Option[DataFrame])
                (implicit s: SparkSession): DataFrame =
    microBatchLanded(feeds.toDF("content"), weatherJson, target)

  /** [[microBatch]] over a frame of landed payloads (see
    * [[latestObservations]]). */
  private[graft] def microBatchLanded(landed: DataFrame,
                                      weatherJson: Option[String],
                                      target: Option[DataFrame])
                                     (implicit s: SparkSession): DataFrame = {
    val latest = latestObservations(landed, weatherJson)
    target match {
      case Some(tgt) => Upsert.upsert(tgt, latest, keys,
        compareCols = Seq("arrival_time", "departure_time"),
        createdCol = Some("created_at"))
      case None => latest
    }
  }
}
