package graft

import org.apache.spark.sql.SparkSession

/** Dev helper: dump ONE catalog query + its oracle SQL for
  * `tools/oracle_check.py` — `graft.VerifyOne <query_name> [sfDir] [outDir]`.
  * (The driver's gate runs the full `graft.Verify`; this is the
  * per-query iteration loop, the `BenchOne` of correctness.) */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$name")
    val sql = SparkEntry.oracleSql.get(name)
    val json = sql.map { v =>
      val esc = v.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      s"""{"$name": "$esc"}"""
    }.getOrElse("{}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
