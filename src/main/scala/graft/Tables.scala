package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's deterministic testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Mirrors the reference's
  * parquet-scan source (S1/S2, `jobs/transform/nfl-elec-transform-v2.py:37-49`)
  * but as a single multi-path-capable `spark.read.parquet` — Spark's
  * `InMemoryFileIndex` replaces the reference's driver-side blob loop, so at
  * 100 TB the listing is distributed and the scan parallelises per row-group.
  *
  * Schema memo: inferring a parquet schema launches a footer-reading Spark
  * job while the plan is built, and a catalog call that reads four tables
  * paid four of them on every call. [[load]] infers once per (qualified
  * path, file length, modification time, values of [[SchemaConfs]]) and
  * passes the remembered `StructType` to every later read of the same key,
  * so a warm read plans with no job. A rewritten file changes its length or
  * mtime, and a flipped conversion conf changes the key, so neither can be
  * served a stale schema. Only single-file paths are memoised: a file
  * inside a directory can change without the directory's mtime changing,
  * so a directory (e.g. a Spark-written `documents.parquet`) infers on
  * every read. The memo holds at most [[MemoCap]] schemas (it is cleared
  * when full), and the footer job runs outside any lock: `Par.jobs`
  * threads load concurrently, and two of them racing on one cold key both
  * infer the same schema. No schema is declared instead because
  * `events.ts` has arrived in two encodings (see [[events]]).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Hash-spread a small single-file source across the session's shuffle
    * parallelism before CPU-heavy downstream work. The partition count is
    * EXPLICIT — a bare `repartition(col)` gets coalesced back to one
    * partition by AQE when the data is small, which serializes the whole
    * downstream chain into a single task. */
  def spread(spark: SparkSession, df: DataFrame, key: String): DataFrame =
    df.repartition(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      org.apache.spark.sql.functions.col(key))

  /** The parquet schema-conversion confs: each changes the schema that one
    * footer infers to, so their values are part of the memo key. */
  private val SchemaConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  private final case class SchemaKey(path: String, len: Long, mtime: Long,
      confs: Seq[Option[String]])

  private val MemoCap = 64
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]

  /** The memo key of a single-file path; None for a directory or a missing
    * path (Spark's own read reports the latter). */
  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val st = graft.ops.Artifacts.fs(spark, path).getFileStatus(p)
      if (!st.isFile) None
      else Some(SchemaKey(st.getPath.toString, st.getLen, st.getModificationTime,
        SchemaConfs.map(spark.conf.getOption)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) => Option(schemaMemo.get(key)) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          if (schemaMemo.size >= MemoCap) schemaMemo.clear()
          schemaMemo.put(key, df.schema)
          df
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) (earlier
    * testdata drops) and TIMESTAMP(MICROS) (current drops), so detect the
    * arrival type instead of assuming one:
    *   - NANOS: Spark 4 cannot represent ns as TimestampType, so the session
    *     sets `spark.sql.legacy.parquet.nanosAsLong=true` and the raw column
    *     arrives as epoch-nanos LongType → rename to `ts_ns`, derive a
    *     µs-truncated proper `ts` timestamp. Integer `div` keeps full
    *     precision — never divide ns epochs as double.
    *   - MICROS: the column arrives as TIMESTAMP_NTZ `ts` → cast to
    *     TimestampType (exact under the UTC session zone, matching DuckDB's
    *     naive-timestamp epoch_us) and derive `ts_ns = unix_micros(ts) *
    *     1000` (exact, same ordering).
    * Either way downstream code sees the same two columns: exact integer
    * `ts_ns` (ns epoch, the window/sort key) and TimestampType `ts`. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    else
      raw.withColumn("ts", col("ts").cast(TimestampType))
        .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
