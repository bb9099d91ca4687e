package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a graft layer, as the harness saw it. `name` is
  * `<module>.<Object>.<call>`; the spans the harness records never
  * nest, so a span's self time is its whole duration.
  */
final case class Span(id: Int, name: String, iter: Int, startMs: Long, endMs: Long,
                      fs: FsCounters.Snap) {
  def ms: Long = endMs - startMs
}

/** Spark-side counters of one span, filled by [[Tracer]]'s listener. */
final class SpanSparkCounters {
  val jobs, tasks, shuffleWriteBytes, spillBytes, executorRunMs = new AtomicLong
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

/** Spans around the harness's calls into graft, plus the counters the
  * layers leave behind: a [[SparkListener]] attributes every job (and
  * its stages' tasks) to the span whose thread submitted it — through a
  * local property, which Spark copies into the threads a query spawns —
  * and [[FsCounters]] deltas give each span's filesystem operations.
  * Spans stay in memory until [[write]] dumps them at the end of a run.
  */
final class Tracer(sc: SparkContext) {
  private val PropKey = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, SpanSparkCounters]()
  private val jobSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private var enabled = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(PropKey)))
      p.foreach { s =>
        val id = s.toInt
        jobSpan.put(e.jobId, id)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        countersOf(id).jobs.incrementAndGet()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        countersOf(id).jobIntervals.add((jobStart.get(e.jobId).longValue, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = countersOf(id)
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.executorRunMs.addAndGet(m.executorRunTime)
        }
      }
  }

  private def countersOf(id: Int): SpanSparkCounters =
    counters.computeIfAbsent(id, _ => new SpanSparkCounters)

  /** Turn span recording (and the listener) on or off; calls made while
    * off run exactly as in an untraced run, minus the counting
    * filesystem's atomic increments.
    */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) sc.addSparkListener(listener) else {
      org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    enabled = on
  }

  def isEnabled: Boolean = enabled

  def span[A](name: String, iter: Int)(f: => A): A =
    if (!enabled) f
    else {
      val id = spans.size
      val fs0 = FsCounters.snapshot()
      val t0 = System.currentTimeMillis()
      sc.setLocalProperty(PropKey, id.toString)
      try f
      finally {
        sc.setLocalProperty(PropKey, null)
        spans += Span(id, name, iter, t0, System.currentTimeMillis(), FsCounters.snapshot() - fs0)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Waits for the listener bus, then returns each span's Spark counters. */
  def sparkCounters(): Map[Int, SpanSparkCounters] = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    counters.asScala.toMap
  }

  /** Span wall time not covered by any of its Spark jobs. */
  private def driverGapMs(s: Span, c: Option[SpanSparkCounters]): Long = {
    val ivs = c.toSeq.flatMap(_.jobIntervals.asScala)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.ms - covered
  }

  /** Every counter of one span, by name (`self_ms`, `jobs`, ...). */
  def counters(s: Span, cs: Map[Int, SpanSparkCounters]): Seq[(String, Long)] = {
    val c = cs.get(s.id)
    def n(f: SpanSparkCounters => AtomicLong): Long = c.map(x => f(x).get).getOrElse(0L)
    Seq("self_ms" -> s.ms, "jobs" -> n(_.jobs), "tasks" -> n(_.tasks),
      "driver_gap_ms" -> driverGapMs(s, c), "shuffle_write_bytes" -> n(_.shuffleWriteBytes),
      "spill_bytes" -> n(_.spillBytes), "executor_ms" -> n(_.executorRunMs),
      "fs_read_ops" -> s.fs.reads, "fs_write_ops" -> s.fs.writes, "fs_list_ops" -> s.fs.lists,
      "fs_bytes_written" -> s.fs.bytesWritten)
  }

  /** One JSON object per span, with its counters, one per line. */
  def write(path: java.nio.file.Path): Unit = {
    val cs = sparkCounters()
    val lines = spans.map { s =>
      (Seq(s"\"id\":${s.id}", s"\"name\":\"${s.name}\"", s"\"iter\":${s.iter}",
        s"\"start_ms\":${s.startMs}", s"\"end_ms\":${s.endMs}") ++
        counters(s, cs).map { case (k, v) => s"\"$k\":$v" }).mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
