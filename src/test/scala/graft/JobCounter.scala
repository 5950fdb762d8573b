package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Counts the Spark jobs, and the stages actually submitted (skipped
  * stages excluded), that `body` launches — the witness of the specs that
  * price a serve request in jobs and stages. Listener events arrive
  * asynchronously, so the bus is drained before counting starts and
  * before the counts are read; its barrier is not public API, so it is
  * reached by reflection. */
object JobCounter {
  final case class Counts(jobs: Int, stages: Int)

  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    drain(sc)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, Counts(jobs.get, stages.get))
    } finally sc.removeSparkListener(listener)
  }

  private def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
