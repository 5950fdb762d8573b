package graft

import org.apache.spark.sql.SparkSession

/** Shared test session (one per JVM — tests fork once). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Spark's generated-class cache defaults to 100 entries (segmented,
      // so it evicts earlier); one catalog round compiles ~250 classes, so
      // every repeated plan shape recompiled. 1000 keeps them resident.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // reclaim unreferenced localCheckpoint/shuffle blocks MID-SUITE: the
      // default periodic-GC interval (30 min) outlives the whole run, so
      // checkpoint blocks from the funnel/MMR/cluster specs piled up until
      // the r19 driver run OOM-crashed the shared context in a late spec.
      // A 2-minute ContextCleaner GC keeps the one test JVM's storage
      // bounded by what live specs actually reference.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
