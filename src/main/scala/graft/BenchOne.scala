package graft

import graft.obs.{Session, Trace}

/** Dev helper: time a single catalog query N times (steady-state) —
  * `graft.BenchOne <query_name> [sfDir] [runs]`. Each run prints one line,
  * `run N: <seconds> key=value ...`: wall seconds to 3 decimals (the field
  * `tools/bench_pair.sh` reads), then the run's Spark work from [[Trace]]. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Session.local(Session.cpus)
    val trace = Trace.on(spark.sparkContext)
    for (i <- 1 to runs) {
      // drop plan-keyed cache entries from the previous run: otherwise a
      // query that caches internally gets measured against its own warm cache
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      trace.span(s"run $i") {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println("run %d: %.3f %s".formatLocal(java.util.Locale.ROOT, i, sec,
        trace.counts(s"run $i").fields))
    }
    trace.close()
    spark.stop()
  }
}
