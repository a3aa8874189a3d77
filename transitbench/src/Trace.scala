package transitbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** One span: a timed call into a layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. With tracing off, [[span]] only runs the body;
  * spans are written out once, at the end of the run. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.seconds)

  /** Self time: a span's duration minus what its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  def writeTsv(path: Path): Unit = {
    val lines = "id\tparent\tname\tstart_ns\tend_ns\tself_s" +:
      all.map(s => f"${s.id}\t${s.parent}\t${s.name}\t${s.startNs}\t${s.endNs}\t${selfSeconds(s)}%.6f")
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark engine counters over a measured window, from listeners the
  * benchmark registers: jobs and their intervals, task CPU and I/O, and the
  * analysis/optimization/planning phases of every Dataset action. Events
  * are kept with their timestamps and filtered by window when read, since
  * the listener bus delivers them asynchronously. */
final class EngineProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final case class Task(endMs: Long, runMs: Long, cpuNs: Long, shuffle: Long,
                                input: Long, output: Long, spill: Long)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add((System.currentTimeMillis(), qe.tracker.phases.values.map(_.durationMs).sum / 1e3))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters for wall-clock window [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long, cores: Int): Map[String, (Double, String)] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val inJobs = jobs.asScala.filter { case (s, e) => e >= fromMs && s <= toMs }
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }.toSeq.sortBy(_._1)
    var covered = 0L; var reach = fromMs
    inJobs.foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    val ts = tasks.asScala.filter(t => t.endMs >= fromMs && t.endMs <= toMs).toSeq
    val wall = math.max(1L, toMs - fromMs) / 1e3
    Map(
      "spark.jobs" -> (inJobs.size.toDouble, "count"),
      "spark.tasks" -> (ts.size.toDouble, "count"),
      "spark.task_cpu_s" -> (ts.map(_.cpuNs).sum / 1e9, "s"),
      "spark.parallelism" -> (ts.map(_.runMs).sum / 1e3 / wall / cores, "ratio"),
      "spark.driver_self_s" -> ((toMs - fromMs - covered) / 1e3, "s"),
      "spark.plan_s" -> (plans.asScala.filter(p => p._1 >= fromMs && p._1 <= toMs).map(_._2).sum, "s"),
      "spark.shuffle_bytes" -> (ts.map(_.shuffle).sum.toDouble, "bytes"),
      "spark.input_bytes" -> (ts.map(_.input).sum.toDouble, "bytes"),
      "spark.output_bytes" -> (ts.map(_.output).sum.toDouble, "bytes"),
      "spark.spill_bytes" -> (ts.map(_.spill).sum.toDouble, "bytes"))
  }
}

/** JVM GC time and peak heap over a window. */
final class JvmProbe {
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  def start(): Unit = { gc0 = gcMs; heapPools.foreach(_.resetPeakUsage()) }
  def stop(): Map[String, (Double, String)] = Map(
    "jvm.gc_s" -> ((gcMs - gc0) / 1e3, "s"),
    "jvm.heap_peak_mb" -> (heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB"))
}
