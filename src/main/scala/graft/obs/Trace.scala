package graft.obs

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Named spans over a SparkContext, and the Spark work each one caused:
  * its jobs, its submitted stages (skipped stages are never submitted)
  * and their tasks' time and bytes.
  *
  * While a span is open, the thread that opened it carries the span's id
  * in the Spark local property [[SpanKey]]. Spark stamps every job with its
  * submitting thread's local properties, and those are inherited by the
  * threads a span's body creates, so the jobs of a `Par.jobs` pool thread
  * name the span that opened the pool. A span opened inside another is
  * nested under it, and its work counts toward both.
  *
  * The listener keeps raw records and attribution happens when counts are
  * read. Listener events arrive asynchronously, so [[counts]] drains the
  * bus first. */
final class Trace private (sc: SparkContext) extends AutoCloseable {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private val rec = new Recorder
  sc.addSparkListener(rec)

  /** Run `body` as span `name`, nested under the calling thread's open
    * span. */
  def span[T](name: String)(body: => T): T = {
    val outer = Option(sc.getLocalProperty(SpanKey))
    val s = Span(ids.incrementAndGet(), name, outer.fold(-1L)(_.toLong))
    spans.synchronized(spans += s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally sc.setLocalProperty(SpanKey, outer.orNull)
  }

  /** The work of every span called `name`, its nested spans included. */
  def counts(name: String): Counts = {
    drainBus(sc)
    val (parent, roots) = spans.synchronized(
      (spans.map(s => s.id -> s.parent).toMap, spans.filter(_.name == name).map(_.id).toSet))
    def in(span: Long): Boolean =
      Iterator.iterate(span)(id => parent.getOrElse(id, -1L)).takeWhile(_ >= 0).exists(roots)
    rec.synchronized {
      val stages = rec.stages.filter(st => in(st.span))
      val stageIds = stages.map(_.stageId).toSet
      val tasks = rec.tasks.filter(t => stageIds(t.stageId))
      Counts(
        jobs = rec.jobs.count(j => in(j.span)),
        stages = stages.size,
        tasks = tasks.size,
        taskSeconds = tasks.map(_.durationMs).sum / 1000.0,
        shuffleReadBytes = tasks.map(_.shuffleRead).sum,
        shuffleWriteBytes = tasks.map(_.shuffleWrite).sum,
        spillBytes = tasks.map(_.diskSpill).sum,
        outputBytes = tasks.map(_.bytesWritten).sum)
    }
  }

  def close(): Unit = sc.removeSparkListener(rec)
}

object Trace {
  /** Distinct from the benchmark client's own span key, so the two
    * recorders never read each other's spans. */
  val SpanKey = "graft.obs.span"

  final case class Span(id: Long, name: String, parent: Long)
  final case class Job(jobId: Int, span: Long)
  final case class Stage(stageId: Int, span: Long)
  final case class Task(stageId: Int, durationMs: Long, shuffleRead: Long,
      shuffleWrite: Long, diskSpill: Long, bytesWritten: Long)

  final case class Counts(jobs: Int, stages: Int, tasks: Int, taskSeconds: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long) {
    /** `key=value` fields, one space apart. */
    def fields: String =
      s"jobs=$jobs stages=$stages tasks=$tasks " +
        "task_s=%.3f ".formatLocal(java.util.Locale.ROOT, taskSeconds) +
        s"shuffle_read_bytes=$shuffleReadBytes shuffle_write_bytes=$shuffleWriteBytes " +
        s"spill_bytes=$spillBytes output_bytes=$outputBytes"
  }

  // span ids are unique per JVM, so two recorders never share an id
  private val ids = new AtomicLong

  /** A recorder listening on `sc` until closed. */
  def on(sc: SparkContext): Trace = new Trace(sc)

  /** `body` run as one span: its result and the work it caused. */
  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val t = on(sc)
    try {
      val out = t.span("body")(body)
      (out, t.counts("body"))
    } finally t.close()
  }

  /** The listener bus's barrier is not public API, so it is reached by
    * reflection. */
  private def drainBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).fold(-1L)(_.toLong)

  private final class Recorder extends SparkListener {
    val jobs = ArrayBuffer.empty[Job]
    val stages = ArrayBuffer.empty[Stage]
    val tasks = ArrayBuffer.empty[Task]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, spanOf(e.properties))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages += Stage(e.stageInfo.stageId, spanOf(e.properties))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val d = e.taskInfo.finishTime - e.taskInfo.launchTime
      tasks += (if (m == null) Task(e.stageId, d, 0, 0, 0, 0)
        else Task(e.stageId, d, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
  }
}
