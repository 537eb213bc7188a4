package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Epoch milliseconds with sub-millisecond resolution, from one
  * `nanoTime` origin, so schedules, spans and progress times share a clock.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(nanos: Long): Double = baseMs + (nanos - baseNs) / 1e6
  def now(): Double = ms(System.nanoTime())
  def nanosAt(epochMs: Double): Long = baseNs + ((epochMs - baseMs) * 1e6).toLong
}

/** In-memory spans recorded around the benchmark's calls into each layer:
  * name, start, end, parent span and run id. Disabled (a no-op around the
  * body) in untraced runs. Written out once, at the end, with each span
  * name's self time: its duration minus the part its children cover.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized(nextId())
      val parent = current
      stack = id :: stack
      val t0 = Clock.now()
      try body
      finally {
        stack = stack.tail
        add(id, parent, name, t0, Clock.now())
      }
    }

  /** A span measured elsewhere (a micro-batch and its phases). */
  def record(parent: Int, name: String, start: Double, end: Double): Int =
    if (!enabled) -1
    else {
      val id = synchronized(nextId())
      add(id, parent, name, start, end)
      id
    }

  private var ids = 0
  private def nextId(): Int = { ids += 1; ids }
  private def add(id: Int, parent: Int, name: String, s: Double, e: Double): Unit =
    synchronized { spans += Span(id, parent, name, s, e) }

  /** Self milliseconds per span name. */
  def selfTimes(): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Tracer.covered(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).toSeq)
        s.end - s.start - covered
      }.sum
    }
  }

  def write(path: Path): Unit = {
    val rows = spans.sortBy(_.start).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end, "run_id" -> runId))
    Files.writeString(path, Json.render(Map(
      "run_id" -> runId, "spans" -> rows, "self_ms" -> selfTimes())))
  }
}

object Tracer {
  /** Length of the union of `intervals` (start, end). */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** The benchmark's own `SparkListener`: one record per finished task and
  * per started job (with its job group), summed afterwards over a time
  * window and optionally one job group.
  */
final class TaskLog extends SparkListener {
  final case class TaskRec(stage: Int, endMs: Long, runMs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long, peakMem: Long, output: Long)
  final case class JobRec(startMs: Long, group: String)

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.add(JobRec(e.time, group))
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val end = e.taskInfo.finishTime
    if (m == null) tasks.add(TaskRec(e.stageId, end, 0, 0, 0, 0, 0, 0))
    else tasks.add(TaskRec(e.stageId, end, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory, m.outputMetrics.bytesWritten))
  }

  /** Sums over tasks ending and jobs starting inside [fromMs, toMs],
    * restricted to `group` when given.
    */
  def summary(sc: SparkContext, fromMs: Double, toMs: Double,
      group: Option[String] = None): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    def inGroup(g: String) = group.forall(_ == g)
    val ts = tasks.asScala.filter(t => t.endMs >= fromMs && t.endMs <= toMs &&
      inGroup(stageGroup.getOrDefault(t.stage, "")))
    val js = jobs.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs &&
      inGroup(j.group))
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> js.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_busy_s" -> ts.map(_.runMs).sum / 1000.0,
      "gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spill_mb" -> ts.map(_.spill).sum / mb,
      "peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / mb),
      "output_mb" -> ts.map(_.output).sum / mb)
  }
}

/** The benchmark's own `StreamingQueryListener`: keeps every progress
  * event, keyed by query run id.
  */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}
