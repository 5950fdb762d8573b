package graft
import graft.obs.Session
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-entry caches (guard-gate bucket frames etc.) so the
      // 160+-entry sweep never accumulates executor storage — the Bench
      // convention, applied to the correctness sweep (round-17 advice)
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The oracle_sql.json object, name → oracle SQL. Every string goes
    * through [[Bench.jstr]]: a tab or CR in an oracle query must not make
    * the file unparseable, which would silently drop every entry's oracle
    * comparison. */
  private[graft] def oracleJson(sql: Iterable[(String, String)]): String =
    sql.map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
}
