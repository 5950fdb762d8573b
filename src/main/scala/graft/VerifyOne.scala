package graft

import graft.obs.Session

/** Dev helper: dump ONE catalog query + its oracle SQL for
  * `tools/oracle_check.py` — `graft.VerifyOne <query_name> [sfDir] [outDir]`.
  * (The driver's gate runs the full `graft.Verify`; this is the
  * per-query iteration loop, the `BenchOne` of correctness.) */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$name")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Verify.oracleJson(SparkEntry.oracleSql.get(name).map(name -> _)))
    spark.stop()
  }
}
