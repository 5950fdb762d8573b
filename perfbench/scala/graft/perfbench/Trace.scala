package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans opened by the benchmark around its own calls into each module,
  * plus (when tracing) the Spark job and task counters of the work those
  * calls caused.
  *
  * A span is pushed on the calling thread. While it is open that thread
  * carries its id in the Spark local property [[SpanKey]], so every job
  * submitted from inside it, including jobs submitted from pool threads
  * the call creates (local properties are inheritable), names the
  * innermost open span. The listener keeps raw job and task records in
  * memory; attribution and aggregation happen once, after the run, from
  * the records written out by [[toJson]].
  *
  * Span and task times share one clock: epoch milliseconds, spans with
  * sub-millisecond precision derived from `System.nanoTime`. */
final class Trace(sc: SparkContext, val traced: Boolean) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  // open spans of the calling thread; a thread started inside a span (a
  // Par.jobs pool thread) starts from its creator's stack
  private val stack = new InheritableThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val listener = new Recorder
  if (traced) sc.addSparkListener(listener)

  /** Time `body` as span `name`, nested under the calling thread's
    * innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val open = stack.get
    val s = spans.synchronized {
      val s = Span(spans.size, open.headOption.getOrElse(-1), name, nowMs(), Double.NaN)
      spans += s
      s
    }
    stack.set(s.id :: open)
    if (traced) sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.t1 = nowMs()
      stack.set(open)
      if (traced) sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
    }
  }

  /** Duration in seconds of every closed span called `name`, in order. */
  def durations(name: String): Seq[Double] = spans.synchronized {
    spans.iterator.filter(s => s.name == name && !s.t1.isNaN).map(_.seconds).toSeq
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (traced) Trace.drainBus(sc)

  def toJson: String = {
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.map(s => s"[${s.id},${s.parent},${Json.str(s.name)},${num(s.t0)},${num(s.t1)}]")
      .mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= listener.jobs.map(j => s"[${j.jobId},${j.span},${j.stageIds.mkString("[", ",", "]")}]")
      .mkString(",")
    sb ++= "],\"tasks\":["
    sb ++= listener.tasks.map(t => Seq(t.stageId, t.launchMs, t.finishMs, t.shuffleWrite,
      t.shuffleRead, t.diskSpill, t.bytesWritten).mkString("[", ",", "]")).mkString(",")
    sb ++= "]}"
    sb.toString
  }

  def close(): Unit = if (traced) sc.removeSparkListener(listener)
}

object Trace {
  val SpanKey = "graft.perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, t0: Double, var t1: Double) {
    def seconds: Double = (t1 - t0) / 1000.0
  }
  final case class Job(jobId: Int, span: Int, stageIds: Seq[Int])
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long, shuffleWrite: Long,
      shuffleRead: Long, diskSpill: Long, bytesWritten: Long)

  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  private def num(d: Double): String =
    if (d.isNaN) "null" else "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** Listener events are delivered asynchronously; the bus's own barrier
    * is not part of the public API, so it is reached by reflection. */
  def drainBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  final class Recorder extends SparkListener {
    val jobs = ArrayBuffer.empty[Job]
    val tasks = ArrayBuffer.empty[Task]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs += Job(e.jobId, span, e.stageIds)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      tasks += (if (m == null) Task(e.stageId, info.launchTime, info.finishTime, 0, 0, 0, 0)
        else Task(e.stageId, info.launchTime, info.finishTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
