package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark client: runs ONE workload as a closed loop with one client
  * thread against `local[cores]` and writes its raw measurements (latency
  * samples, set-up repetitions, counts, check outcomes and, when tracing,
  * spans plus Spark job/task records) as one JSON object to `--out`.
  * Metric arithmetic happens in `perfbench/run.py`, which starts this
  * main; see `perfbench/README.md` for the workloads and the metrics.
  *
  * Usage: `graft.perfbench.Main --workload W --seed N --seconds S
  *   --trace 0|1 --inputs DIR --work DIR --out FILE --cores C
  *   [key=value workload parameters]` */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
      inputs: String, work: String, out: String, cores: Int,
      params: Map[String, String]) {
    def str(k: String): String = params.getOrElse(k, sys.error(s"missing parameter $k"))
    def int(k: String): Int = str(k).toInt
  }

  def parse(argv: Array[String]): Args = {
    val flags = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val a = argv(i)
      if (a.startsWith("--")) { flags(a.drop(2)) = argv(i + 1); i += 2 }
      else { val Array(k, v) = a.split("=", 2); params(k) = v; i += 1 }
    }
    Args(flags("workload"), flags("seed").toLong, flags("seconds").toDouble,
      flags("trace") == "1", flags("inputs"), flags("work"), flags("out"),
      flags("cores").toInt, params.toMap)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One workload's life cycle: `setup` prepares (and warms) what the
    * timed loop `run` needs; `check` verifies outputs after it. */
  trait Workload {
    /** Untimed input generation (excluded from set-up time). */
    def generate(r: Recorder): Unit = ()
    def setup(spark: SparkSession, r: Recorder): Unit
    def run(spark: SparkSession, r: Recorder, deadlineNs: Long): Unit
    def check(spark: SparkSession, r: Recorder): Unit
  }

  /** What a run records; rendered by [[Recorder.toJson]]. */
  final class Recorder(val args: Args) {
    var trace: Trace = _
    var setupTrace: Trace = _
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, Double]
    val counts = mutable.LinkedHashMap.empty[String, Long]
    val info = mutable.LinkedHashMap.empty[String, String]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0L
    var failed = 0L

    /** Run one timed client operation of kind `op` inside span `name`.
      * A throw counts as a failed op (and is not sampled); the loop
      * continues. */
    def op(kind: String, name: String)(body: => Unit): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        trace.span(name)(body)
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          failed += 1
          log(s"$kind/$name failed: $e")
      }
    }

    def sample(kind: String, seconds: Double): Unit =
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

    def check(name: String, ok: Boolean, detail: String = ""): Unit = {
      checks += ((name, ok, detail))
      if (!ok) log(s"check $name FAILED $detail")
    }

    def toJson: String = Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "traced" -> args.traced.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "samples" -> Json.obj(samples.map { case (k, v) => k -> Json.arr(v.map(Json.num)) }),
      "values" -> Json.obj(values.map { case (k, v) => k -> Json.num(v) }),
      "counts" -> Json.obj(counts.map { case (k, v) => k -> v.toString }),
      "info" -> Json.obj(info.map { case (k, v) => k -> Json.str(v) }),
      "checks" -> Json.arr(checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }),
      "setup_trace" -> (if (args.traced) setupTrace.toJson else "null"),
      "trace" -> (if (args.traced) trace.toJson else "null")))
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The timed loops run whole units (rounds, cycles) and start another
    * only while it is expected to end by the deadline: at least one unit,
    * then while now + half the last unit's time < deadline. The unit count
    * then stays the same for unit times well inside an interval, instead
    * of jumping whenever a unit ends just before the deadline. `more`
    * can end the loop early (an exhausted input pool). */
  def loop(deadlineNs: Long, more: => Boolean = true)(unit: => Unit): Int = {
    var n = 0
    var last = 0L
    while ((n == 0 || System.nanoTime() + last / 2 < deadlineNs) && more) {
      val t0 = System.nanoTime()
      unit
      last = System.nanoTime() - t0
      n += 1
    }
    n
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Heap in use after a full collection, in MB: the live set. The pause
    * between two collections lets Spark's cleaner drop the blocks of
    * broadcasts and shuffles the first one found unreachable. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val jvmToMain = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = parse(argv)
    val r = new Recorder(a)
    val w: Workload = a.workload match {
      case "catalog-interactive" => new Catalog(a)
      case "rag-serve-maintain" => new Rag(a)
      case other => sys.error(s"unknown workload $other")
    }
    r.info("jvm_flags") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).mkString(" ")

    // set-up: JVM start to the first timed op, input generation excluded
    val g0 = System.nanoTime()
    w.generate(r)
    val genS = (System.nanoTime() - g0) / 1e9
    val t0s = System.nanoTime()
    val spark = session(a.cores, a.work)
    r.setupTrace = new Trace(spark.sparkContext, a.traced)
    r.trace = r.setupTrace
    w.setup(spark, r)
    r.values("setup_s") = jvmToMain + (System.nanoTime() - t0s) / 1e9
    r.setupTrace.drain()
    r.setupTrace.close()
    r.values("gen_s") = genS
    r.values("jvm_to_main_s") = jvmToMain
    log(f"set-up ${r.values("setup_s")}%.2f s (generation $genS%.2f s)")
    val heapSetup = liveHeapMb()

    r.trace = new Trace(spark.sparkContext, a.traced)
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    w.run(spark, r, t0 + (a.seconds * 1e9).toLong)
    r.values("wall_s") = (System.nanoTime() - t0) / 1e9
    log(f"timed phase: ${r.values("wall_s")}%.2f s, ${r.attempted} ops")
    r.values("gc_s") = gcSeconds - gc0
    r.trace.drain()
    r.trace.close()
    r.values("heap_peak_mb") = math.max(heapSetup, liveHeapMb())
    r.values("cores") = a.cores

    // outputs are checked after the timed phase, with the listener removed
    try w.check(spark, r)
    catch { case e: Throwable => r.check("check_completed", ok = false, e.toString) }
    log("checks done")

    val out = new java.io.PrintWriter(a.out, "UTF-8")
    try out.print(r.toJson) finally out.close()
    spark.stop()
  }
}
