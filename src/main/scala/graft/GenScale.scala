package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.obs.Session

/** Deterministic N× replication of the driver testdata's relational tables —
  * the reproducible source of BASELINE.md's relational-side scale anchors
  * (GenCorpus covers the document side).
  *
  * `graft.GenScale [baseSfDir] [outDir] [factor]` (default sf0.1 →
  * /tmp/sf1x 10) writes `factor` offset copies of lineitem / orders /
  * events: every key column is shifted by `copy × (max_key + 1)` so
  * uniqueness, join fan-out per key, and group cardinality ratios are
  * preserved (copy 0 is the original data bit-for-bit). Value columns are
  * left untouched, so aggregates scale exactly ×N — a built-in sanity check
  * for any query anchored on this data. Symlink the remaining tables from
  * the base SF (see BASELINE.md).
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sf1x"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local(Session.cpus)

    def load(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.coalesce(4).write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      println(s"$t -> $out (${factor}x)")
    }
    def replicate(df: DataFrame, keys: Map[String, Long]): DataFrame =
      (0 until factor).map { i =>
        keys.foldLeft(df) { case (acc, (k, stride)) =>
          acc.withColumn(k, col(k) + lit(i.toLong * stride))
        }
      }.reduce(_ unionByName _)

    // lineitem and orders MUST share the orderkey stride, or cross-copy
    // lineitem⋈orders joins would misalign
    val orders = load("orders")
    val orderStride = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1L
    write("orders", replicate(orders, Map("o_orderkey" -> orderStride)))
    write("lineitem", replicate(load("lineitem"), Map("l_orderkey" -> orderStride)))
    val events = load("events")
    val eventStride = events.agg(max(col("event_id"))).head().getLong(0) + 1L
    // user_id is deliberately NOT offset: scaling events while holding the
    // user population fixed grows per-key fan-out — the realistic (and
    // harder) shape for the user-keyed joins/windows/sessionization
    write("events", replicate(events, Map("event_id" -> eventStride)))
    spark.stop()
  }
}
