package graft

import org.apache.spark.sql.SparkSession

/** Shared test session (one per JVM — tests fork once), built by the
  * mains' own [[graft.obs.Session]] so specs plan under the same conf.
  * The forked JVM's `spark.*` system properties (build.sbt) add the
  * settings only the suite needs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.obs.Session.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
