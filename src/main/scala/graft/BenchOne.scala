package graft

import org.apache.spark.sql.SparkSession

/** Dev helper: time a single catalog query N times (steady-state) —
  * `graft.BenchOne <query_name> [sfDir] [runs]`. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (i <- 1 to runs) {
      // drop plan-keyed cache entries from the previous run: otherwise a
      // query that caches internally gets measured against its own warm cache
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(s"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f".replace("%.2f", ""))
    }
    spark.stop()
  }
}
