package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The replay harness derives its run mode from the plan and runs in a
  * session of its own: the state-store provider follows the plan's
  * operators, and the caller's session conf never moves. */
class ReplayHarnessSpec extends SparkSpec {

  private val provKey = "spark.sql.streaming.stateStore.providerClass"
  private val partKey = "spark.sql.shuffle.partitions"

  /** The state-store provider a replay's first batch recorded in its
    * checkpoint (`ckpt/offsets/0`'s metadata line). */
  private def recordedProvider(base: String): String = {
    val src = scala.io.Source.fromFile(s"$base/ckpt/offsets/0")
    val text = try src.mkString finally src.close()
    ("\"" + java.util.regex.Pattern.quote(provKey) + "\":\"([^\"]+)\"").r
      .findFirstMatchIn(text).map(_.group(1))
      .getOrElse(fail(s"no $provKey in offsets/0: $text"))
  }

  private def obs = {
    import spark.implicits._
    Seq(("T1", 100L, 3.7), ("T2", 110L, 0.3), ("T1", 200L, 11.1),
      ("T1", 300L, 2.2)).toDF("trip_id", "ts", "delay_min")
  }
  private val preds =
    Seq(col("ts") < 200L, col("ts") >= 200L && col("ts") < 300L,
      col("ts") >= 300L)

  test("the caller's conf stays put during a replay: a beforeRestart hook " +
    "sees the caller session's own shuffle partitions and state-store " +
    "provider, not the replay's derived ones") {
    import spark.implicits._
    val before = (spark.conf.getOption(partKey), spark.conf.getOption(provKey))
    var during = Option.empty[(Option[String], Option[String])]
    val got = StreamingAnalytics.replayStream(spark, obs,
        "target/replay_conf_spec", preds,
        restartAfterBatches = Seq(1),
        beforeRestart = () => during = Some(
          (spark.conf.getOption(partKey), spark.conf.getOption(provKey)))) {
        st => StreamingAnalytics.ewmaStreamTws(st.as[StreamingAnalytics.Obs])
          .toDF()
      }
    assert(got.count() === 4L)
    assert(during === Some(before))
    assert((spark.conf.getOption(partKey), spark.conf.getOption(provKey)) ===
      before)
  }

  test("the state-store provider comes from the plan: a transformWithState " +
    "replay passed no flag records RocksDB in its checkpoint, a " +
    "non-transformWithState stateful replay (stream dedup) keeps the " +
    "session default") {
    val tws = "target/replay_prov_tws_spec"
    StreamingAnalytics.replayEwmaTws(spark, obs, tws, preds).count()
    assert(recordedProvider(tws) ===
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val dedup = "target/replay_prov_dedup_spec"
    val ev = obs.select(col("trip_id"),
      timestamp_seconds(col("ts")).as("event_time"))
    val kept = StreamingAnalytics.replayStream(spark, ev.unionAll(ev), dedup,
        Seq(col("event_time") < timestamp_seconds(lit(200L)),
          col("event_time") >= timestamp_seconds(lit(200L)))) { st =>
        StreamingAnalytics.dedupStream(st, Seq("trip_id", "event_time"),
          "event_time", "1 hour")
      }
    assert(kept.count() === 4L)
    assert(recordedProvider(dedup) === spark.conf.get(provKey))
  }
}
