package transitbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

object Util {
  def nowMs: Long = System.currentTimeMillis()

  /** (result, wall seconds) of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def seconds(body: => Unit): Double = timed(body)._2

  /** Map over `xs` on at most `threads` threads, keeping order. */
  def parMap[A, B](xs: IndexedSeq[A], threads: Int)(f: A => B): IndexedSeq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val fs = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      fs.map(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** Data files (not hidden, not `_SUCCESS`) under `p`: (count, bytes). */
  def dataFiles(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** Partition directories of `p` holding a data file modified at or after
    * `sinceMs`. */
  def touchedPartitions(p: Path, sinceMs: Long): Int = {
    val parts = Files.list(p)
    try parts.iterator().asScala.filter(d => Files.isDirectory(d) && d.getFileName.toString.contains("="))
      .count { d =>
        val fs = Files.list(d)
        try fs.iterator().asScala.exists(f => !f.getFileName.toString.startsWith(".") &&
          Files.getLastModifiedTime(f).toMillis >= sinceMs)
        finally fs.close()
      }
    finally parts.close()
  }
}
