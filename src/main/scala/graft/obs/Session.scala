package graft.obs

import org.apache.spark.sql.SparkSession

/** The one local session builder: every main and the test harness build
  * their session here, so a timed run, a correctness dump and a spec all
  * plan against the same conf. */
object Session {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else the JVM's available
    * processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session (an existing one is returned with this conf
    * applied). */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts has shipped as TIMESTAMP(NANOS); Tables normalizes both
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      // keep repeated plan shapes' generated classes resident: one catalog
      // pass compiles ~250 classes and the default 100-entry cache evicts
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
