package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.Trigger

/** §2.9 — streaming upsert over a file source: two micro-batch rounds
  * (separate query starts sharing a checkpoint, i.e. restart-resume),
  * asserting S9 semantics on the keyed snapshot. */
class RealtimeStreamSpec extends SparkSpec {

  test("feed-file stream runs E1 per micro-batch (binary source → merge)") {
    import graft.gtfs._
    val base = Paths.get("target", "test_feedstream")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val src = base.resolve("src"); Files.createDirectories(src)
    val tgt = base.resolve("tgt").toString
    val chk = base.resolve("chk").toString

    def feed(name: String, seq: Int, arr: Long): Unit =
      Files.write(src.resolve(name), Rt.encode(FeedMessage(
        FeedHeader("2.0", Some(arr)),
        Seq(FeedEntity("e", None, Some(TripUpdate(
          TripDescriptor(Some("T1"), None, Some("20240601"), None),
          Seq(StopTimeUpdate(Some(seq),
            Some(StopTimeEvent(None, Some(arr), None)), None, Some("10"))),
          None, None)))))))

    def round(): Unit = {
      val q = RealtimeStream.startFeedStream(spark, src.toString, tgt, chk,
        weatherJson = () => None,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }

    feed("f1.pb", 1, 1000L)
    round()
    assert(spark.read.parquet(tgt).count() === 1L)

    feed("f2.pb", 1, 2000L) // same key, new prediction
    feed("f3.pb", 2, 3000L) // new key
    round()
    val snap = spark.read.parquet(tgt).collect()
      .map(r => r.getLong(2) -> r.getTimestamp(4).getTime / 1000).toMap
    assert(snap === Map(1L -> 2000L, 2L -> 3000L))
  }

  test("one micro-batch of several snapshots keeps landing order: the " +
    "later-named file's prediction wins whichever file is larger, on both " +
    "snapshot paths") {
    import graft.gtfs._
    // the repeated key is stop 1; the larger file pads with other stops.
    // Spark packs a batch's files largest first, so a dedup by row id
    // alone lets whichever snapshot is smaller win
    def snapshot(arr: Long, padStops: Int): Array[Byte] =
      Rt.encode(FeedMessage(FeedHeader("2.0", Some(arr)),
        (1 to 1 + padStops).map(seq => FeedEntity(s"e$seq", None,
          Some(TripUpdate(
            TripDescriptor(Some("T1"), None, Some("20240601"), None),
            Seq(StopTimeUpdate(Some(seq),
              Some(StopTimeEvent(None, Some(arr), None)), None, Some("10"))),
            None, None))))))
    val now = System.currentTimeMillis()
    for (partitioned <- Seq(false, true); olderLarger <- Seq(true, false)) {
      val base = Paths.get("target", "test_feedorder")
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      val src = base.resolve("src"); Files.createDirectories(src)
      val tgt = base.resolve("tgt").toString
      // FetchLoop's names; the modification times run against them, as
      // when a backlog is written by parallel landers — the name decides
      val older = Files.write(src.resolve("feed_1700000000000_1.pb"),
        snapshot(1000L, if (olderLarger) 300 else 0))
      val newer = Files.write(src.resolve("feed_1700000060000_2.pb"),
        snapshot(2000L, if (olderLarger) 0 else 300))
      Files.setLastModifiedTime(older,
        java.nio.file.attribute.FileTime.fromMillis(now - 30000L))
      Files.setLastModifiedTime(newer,
        java.nio.file.attribute.FileTime.fromMillis(now - 60000L))
      val q = RealtimeStream.startFeedStream(spark, src.toString, tgt,
        base.resolve("chk").toString, weatherJson = () => None,
        trigger = Trigger.AvailableNow(), partitionSnapshot = partitioned)
      q.awaitTermination()
      val stop1 = spark.read.parquet(tgt).where("stop_sequence = 1")
        .collect().map(_.getAs[java.sql.Timestamp]("arrival_time")
          .getTime / 1000).toSeq
      assert(stop1 === Seq(2000L),
        s"partitioned=$partitioned olderLarger=$olderLarger")
    }
  }

  test("snapshot swap is crash-recoverable: a crash between promote's two " +
    "renames leaves .old readable and the next merge heals it") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = Paths.get("target", "test_swap")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val tgt = base.resolve("tgt").toString
    val fs = new Path(tgt).getFileSystem(spark.sessionState.newHadoopConf())

    RealtimeStream.mergeBatch(Seq((1L, "a", 1L)).toDF("k", "v", "seq"),
      tgt, Seq("k"), Seq("v"), "seq")
    // Simulate the crash window: live snapshot already retired to .old,
    // .next not yet promoted (here: gone with the crashed writer).
    assert(fs.rename(new Path(tgt), new Path(tgt + ".old")))

    // Readers resolve the fallback...
    val snap = RealtimeStream.snapshotPath(fs, tgt)
    assert(snap.exists(_.toString.endsWith(".old")))
    assert(spark.read.parquet(snap.get.toString).count() === 1L)

    // ...and the next merge builds on it, promotes, and cleans up.
    RealtimeStream.mergeBatch(Seq((2L, "b", 1L)).toDF("k", "v", "seq"),
      tgt, Seq("k"), Seq("v"), "seq")
    assert(fs.exists(new Path(tgt)) && !fs.exists(new Path(tgt + ".old")))
    assert(spark.read.parquet(tgt).select("k").as[Long].collect().toSet
      === Set(1L, 2L))
  }

  test("compactSnapshot collapses the small-files snapshot without " +
    "changing its rows") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = Paths.get("target", "test_compact")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val tgt = base.resolve("tgt").toString
    // a fragmented snapshot, as a larger run's shuffle-partition-many
    // writes would leave (AQE coalesces this tiny fixture if merged)
    (1L to 40L).map(i => (i, s"v$i", 1L)).toDF("k", "v", "seq")
      .repartition(4).write.parquet(tgt)
    def parquetFiles(): Int = new java.io.File(tgt).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before > 1, s"fixture not fragmented enough: $before files")
    val beforeRows = spark.read.parquet(tgt)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    RealtimeStream.compactSnapshot(spark, tgt) // default target ≫ data size
    assert(parquetFiles() === 1)
    val afterRows = spark.read.parquet(tgt)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows === beforeRows)
    val fs = new Path(tgt).getFileSystem(spark.sessionState.newHadoopConf())
    // .next is consumed by the promote; .old legitimately remains as the
    // crash fallback until the next swap retires it
    assert(fs.exists(new Path(tgt)) && !fs.exists(new Path(tgt + ".next")))
    assert(RealtimeStream.snapshotPath(fs, tgt).map(_.toString)
      === Some(new Path(tgt).toString))
  }

  test("exactly-once-by-idempotence: a crash AFTER promote but BEFORE the " +
    "checkpoint commit replays the batch — replaying the identical batch " +
    "leaves the snapshot bit-identical (latestPerKey pre-dedup + " +
    "change-predicated upsert), so restart cannot corrupt or duplicate") {
    import spark.implicits._
    val base = Paths.get("target", "test_replay")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val tgt = base.resolve("tgt").toString
    def snapshot(): Set[(Long, String, Long, Long, Long)] =
      spark.read.parquet(tgt).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    RealtimeStream.mergeBatch(
      Seq((1L, "a", 1L, 100L, 100L), (2L, "b", 1L, 100L, 100L))
        .toDF("k", "v", "seq", "created", "updated"),
      tgt, Seq("k"), Seq("v"), "seq", createdCol = Some("created"))
    // the batch the checkpoint will replay (key 1 changed, key 3 new,
    // key 1 also repeated in-batch — latestPerKey must pick seq 3)
    val batch = Seq((1L, "A0", 2L, 200L, 200L), (1L, "A", 3L, 200L, 200L),
      (3L, "c", 1L, 200L, 200L))
      .toDF("k", "v", "seq", "created", "updated")
    RealtimeStream.mergeBatch(batch, tgt, Seq("k"), Seq("v"), "seq",
      createdCol = Some("created"))
    val afterCommit = snapshot()
    assert(afterCommit === Set((1L, "A", 3L, 100L, 200L),
      (2L, "b", 1L, 100L, 100L), (3L, "c", 1L, 200L, 200L)))
    // crash window: promote done, checkpoint not committed → the stream
    // restarts and foreachBatch runs the SAME batch again
    RealtimeStream.mergeBatch(batch, tgt, Seq("k"), Seq("v"), "seq",
      createdCol = Some("created"))
    assert(snapshot() === afterCommit,
      "replaying an already-committed batch changed the snapshot")
  }

  test("foreachBatch upsert maintains the keyed snapshot across batches") {
    val base = Paths.get("target", "test_stream")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val src = base.resolve("src"); Files.createDirectories(src)
    val tgt = base.resolve("tgt").toString
    val chk = base.resolve("chk").toString

    def runRound(): Unit = {
      val stream = spark.readStream
        .schema("k LONG, v STRING, seq LONG, created LONG, updated LONG")
        .csv(src.toString)
      val q = RealtimeStream.start(stream, tgt, chk,
        keys = Seq("k"), compareCols = Seq("v"), orderCol = "seq",
        createdCol = Some("created"), trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }

    // Batch 1: keys 1 and 2 (key 1 appears twice — latest seq wins).
    Files.writeString(src.resolve("b1.csv"),
      "1,a,1,100,100\n1,a2,2,100,100\n2,b,1,100,100\n")
    runRound()
    val snap1 = spark.read.parquet(tgt).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4))).toSet
    assert(snap1 === Set((1L, "a2", 100L, 100L), (2L, "b", 100L, 100L)))

    // Batch 2 (restart from checkpoint): key 1 changed, key 2 unchanged,
    // key 3 new.
    Files.writeString(src.resolve("b2.csv"),
      "1,A,3,200,200\n2,b,3,200,200\n3,c,1,200,200\n")
    runRound()
    val snap2 = spark.read.parquet(tgt).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4))).toSet
    assert(snap2 === Set(
      (1L, "A", 100L, 200L), // changed: created preserved, updated stamped
      (2L, "b", 100L, 100L), // unchanged: untouched
      (3L, "c", 200L, 200L)  // new: inserted
    ))
  }
}
