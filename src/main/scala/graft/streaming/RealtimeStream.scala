package graft.streaming

import graft.operators.Upsert
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** §2.9 — the reference's realtime path as Structured Streaming. The
  * reference hand-rolls a micro-batch stream: cron fires every minute,
  * each run decodes the feed and upserts rows by the 4-column key
  * (reference/README.md:172-178, scripts/realtime_extractor.py:191-236).
  * Here the same semantics are a `writeStream.foreachBatch` running the
  * S9 set-oriented merge per micro-batch — the idiomatic mapping SURVEY.md
  * §2.9 prescribes. No watermark: the reference accepts arbitrarily late
  * updates (its upsert has no time bound), and state lives in the keyed
  * snapshot, not in stream memory.
  *
  * The snapshot is maintained parquet-without-ACID, two ways:
  * [[mergeBatch]] merges into a `.next` directory and swaps — whole-
  * snapshot crash-atomic, but O(snapshot) write amplification per batch —
  * while [[mergeBatchPartitioned]] partitions the snapshot by a key
  * column and rewrites only the partitions the batch touches — the
  * 100 TB shape. With a table format (Delta/Iceberg) both collapse to a
  * MERGE — the join shape is identical.
  */
object RealtimeStream {

  /** Resolve the readable snapshot for `targetPath`: the live directory,
    * or — when a crash hit [[promote]] between its two renames — the
    * `.old` directory that rename had just retired. Readers and the next
    * merge both recover through this, so the one-rename crash window
    * never loses the snapshot. */
  def snapshotPath(fs: FileSystem, targetPath: String): Option[Path] = {
    val tgt = new Path(targetPath)
    val old = new Path(targetPath + ".old")
    if (fs.exists(tgt)) Some(tgt)
    else if (fs.exists(old)) Some(old)
    else None
  }

  /** Crash-atomic promote of the `.next` snapshot: retire the live dir to
    * `.old` (one rename), then promote `.next` (one rename). There is no
    * instant with zero readable snapshots — a crash between the renames
    * leaves `.old`, which [[snapshotPath]] resolves; the previous
    * delete-then-rename shape had a window that lost the live copy. */
  private def promote(fs: FileSystem, targetPath: String): Unit = {
    val tgt = new Path(targetPath)
    val next = new Path(targetPath + ".next")
    val old = new Path(targetPath + ".old")
    // Hadoop rename reports failure by RETURNING false — require() it, or
    // a failed promote would silently leave the snapshot stale.
    if (fs.exists(tgt)) {
      fs.delete(old, true) // stale fallback from an earlier completed swap
      require(fs.rename(tgt, old), s"failed to retire $tgt to $old")
      require(fs.rename(next, tgt), s"failed to promote $next to $tgt")
    } else {
      // Recovering from a crash that hit between the renames above: `.old`
      // is the live snapshot (already merged into `.next`), so promote
      // first and only then drop the fallback — never delete the last
      // readable copy before its replacement is in place.
      require(fs.rename(next, tgt), s"failed to promote $next to $tgt")
      fs.delete(old, true)
    }
  }

  /** Compact the snapshot into ~`targetFileBytes` parquet files — the
    * small-files maintenance every continuously-merged parquet directory
    * needs (each micro-batch swap writes shuffle-partition-many files;
    * after days of one-minute ticks a naive reader opens thousands).
    * Rewrites through the same crash-atomic promote as the merges, so
    * compaction can race a crash without losing the snapshot. */
  def compactSnapshot(spark: SparkSession, targetPath: String,
                      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = new Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    snapshotPath(fs, targetPath).foreach { cur =>
      val bytes = fs.getContentSummary(cur).getLength
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      // coalesce, not repartition: compaction only GLUES input splits —
      // a full shuffle of the snapshot buys nothing but network
      spark.read.parquet(cur.toString)
        .coalesce(nFiles.toInt)
        .write.mode("overwrite").parquet(targetPath + ".next")
      promote(fs, targetPath)
    }
  }

  /** One micro-batch: dedup the batch to latest-per-key, S9-merge it into
    * the snapshot at `targetPath`, atomically swap the new snapshot in. */
  def mergeBatch(batch: DataFrame, targetPath: String, keys: Seq[String],
                 compareCols: Seq[String], orderCol: String,
                 createdCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val updates = Upsert.latestPerKey(batch, keys, orderCol)
    val merged = snapshotPath(fs, targetPath) match {
      case Some(cur) =>
        Upsert.upsert(spark.read.parquet(cur.toString), updates, keys,
          compareCols, createdCol)
      case None => updates
    }
    // Writing .next executes the plan (including the read of the current
    // snapshot) before the swap touches the live directory.
    merged.write.mode("overwrite").parquet(targetPath + ".next")
    promote(fs, targetPath)
  }

  /** Partition-pruned snapshot read: only partition directories whose
    * `partitionCol` value is in `values` are listed and scanned — the
    * predicate lands in the scan's PartitionFilters, never a row-level
    * Filter over the full snapshot (PartitionedMergeSpec pins that).
    * `schema` pins the partition column's TYPE (directory-name inference
    * would e.g. read a yyyyMMdd string partition back as INT), and the
    * final select pins column ORDER (a partitioned read always emits
    * partition columns last, regardless of the user schema's order —
    * which would break [[Upsert.upsert]]'s schema-equality contract). */
  def readTouchedPartitions(spark: SparkSession, targetPath: String,
                            schema: StructType, partitionCol: String,
                            values: Seq[Any]): DataFrame = {
    // NULL partition values land in Hive's default partition; `isin`
    // would silently never match them (SQL null semantics), losing every
    // previously-stored NULL-keyed row when its partition is overwritten
    // — prune with an explicit isNull disjunct instead
    val nonNull = values.filter(_ != null)
    val base = col(partitionCol).isInCollection(nonNull)
    val pred =
      if (values.exists(_ == null))
        if (nonNull.isEmpty) col(partitionCol).isNull
        else base || col(partitionCol).isNull
      else base
    spark.read.schema(schema).parquet(targetPath)
      .where(pred)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Partition-scoped S9 merge — the 100 TB shape of [[mergeBatch]]. The
    * snapshot is stored partitioned by `partitionCol` (a KEY column, so a
    * key can never migrate between partitions); each micro-batch
    *   1. dedups to latest-per-key,
    *   2. collects the batch's distinct partition values (bounded: a
    *      1-minute GTFS batch spans a handful of service dates),
    *   3. reads ONLY those partitions of the snapshot (pruned at the file
    *      listing — [[readTouchedPartitions]]),
    *   4. merges, and
    *   5. dynamic-partition-overwrites exactly the touched partitions.
    * Write amplification is O(touched partitions), not O(snapshot): a
    * 1 GB batch against a 100 TB snapshot rewrites ~the partitions the
    * batch touches, where [[mergeBatch]] would rewrite all 100 TB.
    *
    * The merged rows stage through `targetPath + ".stage"` before the
    * overwrite — Spark (correctly) refuses a write whose plan reads the
    * output path, and the staged copy also bounds the crash window:
    * a crash before the final overwrite leaves the live snapshot
    * untouched; a crash DURING it can leave a touched partition
    * half-committed (the known dynamic-overwrite granularity — a table
    * format's metadata commit is the production fix), and the streaming
    * checkpoint replays the batch, which heals it because the merge is
    * idempotent (latest-per-key pre-dedup + change-predicated upsert —
    * RealtimeStreamSpec replays a batch twice and hashes the snapshot).
    */
  def mergeBatchPartitioned(batch: DataFrame, targetPath: String,
                            keys: Seq[String], compareCols: Seq[String],
                            orderCol: String, partitionCol: String,
                            createdCol: Option[String] = None): Unit =
    mergePartitioned(Upsert.latestPerKey(batch, keys, orderCol), targetPath,
      keys, compareCols, partitionCol, createdCol)

  /** The partition-scoped merge core over an ALREADY key-deduped updates
    * frame (at most one row per key) — [[mergeBatchPartitioned]] minus
    * the latest-per-key pass, for callers that dedup with their own
    * ordering (the E1 feed path orders by within-feed entity position). */
  def mergePartitioned(updates: DataFrame, targetPath: String,
                       keys: Seq[String], compareCols: Seq[String],
                       partitionCol: String,
                       createdCol: Option[String] = None): Unit = {
    require(keys.contains(partitionCol),
      s"partitionCol $partitionCol must be a key column — a non-key " +
        "partition column could change under a key, stranding the old row " +
        "in a partition the merge never reads")
    val spark = updates.sparkSession
    val fs = new Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(targetPath))) {
      // bootstrap: first batch becomes the snapshot (idempotent on replay)
      updates.write.mode("overwrite").partitionBy(partitionCol)
        .parquet(targetPath)
      return
    }
    val touched = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return // empty batch — nothing to merge
    val pruned = readTouchedPartitions(spark, targetPath, updates.schema,
      partitionCol, touched)
    val merged = Upsert.upsert(pruned, updates, keys, compareCols, createdCol)
    val stage = targetPath + ".stage"
    merged.write.mode("overwrite").parquet(stage)
    spark.read.schema(updates.schema).parquet(stage)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(targetPath)
    fs.delete(new Path(stage), true)
  }

  /** Per-partition compaction for [[mergeBatchPartitioned]] snapshots —
    * [[compactSnapshot]]'s whole-snapshot rewrite has the same O(snapshot)
    * cost ceiling the partitioned merge exists to avoid. This one lists
    * partition directories (driver-side, bounded by the partition count),
    * selects only those fragmented past `targetFileBytes`-sized files, and
    * rewrites JUST those in one job: rows co-locate per partition and the
    * WRITER splits each partition's output at `maxRecordsPerFile` (sized
    * from the observed bytes/row), so each rewritten partition lands in
    * ~ceil(bytes / targetFileBytes) files. The split lives in the writer,
    * not the shuffle — a hash-slice repartition would be silently merged
    * by AQE's partition coalescing on small inputs (found by
    * PartitionedMergeSpec) and can collide slices of one partition into
    * oversized files. Untouched partitions' files are never opened. In
    * steady state only recent partitions fragment (old service dates stop
    * receiving merges), so each maintenance run is O(active dates). */
  def compactSnapshotPartitioned(spark: SparkSession, targetPath: String,
                                 partitionCol: String,
                                 targetFileBytes: Long = 128L * 1024 * 1024)
      : Unit = {
    val tgt = new Path(targetPath)
    val fs = tgt.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(tgt)) return
    val partDirs = fs.listStatus(tgt)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
    val fragmented = partDirs.flatMap { p =>
      val files = fs.listStatus(p.getPath).filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      if (files.length > want) Some((p.getPath, bytes)) else None
    }
    if (fragmented.isEmpty) return
    // basePath keeps the partition column while reading only the
    // fragmented directories — no partition-value string decoding
    val df = spark.read.option("basePath", targetPath)
      .parquet(fragmented.toIndexedSeq.map(_._1.toString): _*)
    val stage = targetPath + ".compact-stage"
    df.write.mode("overwrite").parquet(stage) // break the read-write cycle
    val staged = spark.read.parquet(stage)
    // rows-per-file from the OBSERVED compressed bytes/row, so the writer
    // cuts ~targetFileBytes files in on-disk terms
    val totalBytes = math.max(1L, fragmented.map(_._2).sum)
    val totalRows = staged.count()
    val rowsPerFile = math.max(1L,
      (targetFileBytes * totalRows + totalBytes - 1) / totalBytes)
    staged.repartition(col(partitionCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", rowsPerFile)
      .partitionBy(partitionCol)
      .parquet(targetPath)
    fs.delete(new Path(stage), true)
  }

  /** One micro-batch of RAW FEED PAYLOADS: decode + flatten + enrich via
    * [[graft.pipelines.Realtime.microBatch]] against the current snapshot,
    * then swap — E1 end to end per batch. */
  def feedBatch(payloads: Dataset[Array[Byte]], targetPath: String,
                weatherJson: Option[String]): Unit =
    swapFeed(payloads.toDF("content"), targetPath, weatherJson)

  /** [[feedBatch]] over landed payloads: a binaryFile batch's paths
    * order its snapshots (see
    * [[graft.pipelines.Realtime.latestObservations]]). */
  private def swapFeed(landed: DataFrame, targetPath: String,
                       weatherJson: Option[String]): Unit = {
    implicit val spark: SparkSession = landed.sparkSession
    val fs = new Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val target = snapshotPath(fs, targetPath)
      .map(p => spark.read.parquet(p.toString))
    val merged = graft.pipelines.Realtime
      .microBatchLanded(landed, weatherJson, target)
    merged.write.mode("overwrite").parquet(targetPath + ".next")
    promote(fs, targetPath)
  }

  /** E1 micro-batch against a `start_date`-PARTITIONED snapshot — the
    * 100 TB shape of [[feedBatch]]: decode + flatten + enrich, dedup to
    * the latest entity per key (feed order), then [[mergePartitioned]]
    * reads and rewrites ONLY the service dates this batch touches (a
    * 1-minute GTFS batch spans a handful). Entities whose start_date is
    * absent land in the NULL partition, which the pruned read covers
    * with an explicit isNull disjunct. */
  def feedBatchPartitioned(payloads: Dataset[Array[Byte]], targetPath: String,
                           weatherJson: Option[String]): Unit =
    mergeFeed(payloads.toDF("content"), targetPath, weatherJson)

  /** [[feedBatchPartitioned]] over landed payloads, as [[swapFeed]]. */
  private def mergeFeed(landed: DataFrame, targetPath: String,
                        weatherJson: Option[String]): Unit =
    mergePartitioned(graft.pipelines.Realtime.latestObservations(landed,
        weatherJson)(landed.sparkSession), targetPath,
      graft.pipelines.Realtime.keys,
      compareCols = Seq("arrival_time", "departure_time"),
      partitionCol = "start_date", createdCol = Some("created_at"))

  /** The reference's cron loop as an actual stream: watch a directory of
    * fetched `.pb` feed files (the S1 fetcher's drop zone — or any
    * binary-file landing path) and run E1 per micro-batch. `weatherJson`
    * is re-read per batch via the supplied thunk, matching the reference's
    * slowly-refreshed side input (SURVEY.md §2.9). `partitionSnapshot`
    * selects the scale path: true stores the snapshot partitioned by
    * start_date and merges via [[feedBatchPartitioned]] (O(touched
    * dates) per batch); false keeps the whole-snapshot swap. */
  def startFeedStream(spark: SparkSession, feedDir: String,
                      targetPath: String, checkpointDir: String,
                      weatherJson: () => Option[String],
                      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                      partitionSnapshot: Boolean = false)
      : StreamingQuery = {
    // streaming sources need the schema up front; this is binaryFile's
    // fixed schema
    val payloads = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(feedDir)
    payloads.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (partitionSnapshot) mergeFeed(batch, targetPath, weatherJson())
        else swapFeed(batch, targetPath, weatherJson())
      }
      .start()
  }

  /** Start the streaming upsert: every micro-batch of realtime rows is
    * merged into the keyed parquet snapshot. `stream` must be a streaming
    * DataFrame (e.g. rows decoded from fetched feeds). `partitionCol`
    * selects the scale path: `Some(keyCol)` stores the snapshot
    * partitioned by that key column and merges via
    * [[mergeBatchPartitioned]] (O(touched partitions) per batch — the
    * production shape; `start_date` is the natural choice for the GTFS
    * snapshot); `None` keeps the whole-snapshot crash-atomic swap of
    * [[mergeBatch]] (fine for small snapshots, fatal write amplification
    * at 100 TB). */
  def start(stream: DataFrame, targetPath: String, checkpointDir: String,
            keys: Seq[String], compareCols: Seq[String], orderCol: String,
            createdCol: Option[String] = None,
            trigger: Trigger = Trigger.ProcessingTime("1 minute"),
            partitionCol: Option[String] = None)
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        partitionCol match {
          case Some(p) => mergeBatchPartitioned(batch, targetPath, keys,
            compareCols, orderCol, p, createdCol)
          case None => mergeBatch(batch, targetPath, keys, compareCols,
            orderCol, createdCol)
        }
      }
      .start()
}
