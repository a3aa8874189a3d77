package transitbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Which files each micro-batch of a file-stream query consumed, read from
  * the query checkpoint's `sources/0/<batchId>` log.
  *
  * Each log file is a version line (`v1`) then one JSON object per file,
  * carrying `path` and the `batchId` that took it. Every tenth batch is
  * written as `<batchId>.compact`, which repeats every earlier batch's
  * entries, and older plain files may or may not still exist beside it.
  * Entries are therefore keyed by their own `batchId`, never by the name
  * of the log file they were found in. `numInputRows` cannot stand in for
  * this: the partitioned merge scans its input twice per batch. */
object SourceLog {
  private val PathRe = "\"path\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
  private val BatchRe = "\"batchId\"\\s*:\\s*(\\d+)".r

  /** (path, batchId) entries of one log file's text. */
  def parse(text: String): Seq[(String, Long)] =
    text.split("\n").toSeq.drop(1).filter(_.trim.startsWith("{")).map { line =>
      val p = PathRe.findFirstMatchIn(line).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(s"source log entry without path: $line"))
      val b = BatchRe.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(
        throw new IllegalArgumentException(s"source log entry without batchId: $line"))
      (p.replace("\\/", "/"), b)
    }

  /** file name → the set of batch ids that list it, over every log file in
    * `checkpoint/sources/0`. A correct stream lists each file under exactly
    * one batch id. */
  def batchesByFile(checkpoint: Path): Map[String, Set[Long]] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val files = if (Files.isDirectory(dir)) Files.list(dir).iterator().asScala.toSeq else Nil
    files.filter(f => f.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(f => parse(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
      .groupBy { case (p, _) => p.substring(p.lastIndexOf('/') + 1) }
      .map { case (name, es) => name -> es.map(_._2).toSet }
  }

  /** Ids of batches whose commit marker `commits/<batchId>` exists. */
  def committed(checkpoint: Path): Set[Long] = {
    val dir = checkpoint.resolve("commits")
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d+")).map(_.toLong).toSet
  }
}
