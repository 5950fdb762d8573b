package graft.sources

import org.apache.spark.sql.{functions, DataFrame, SaveMode, SparkSession}

/** Source/sink surface (SURVEY §2.1 S7–S9, S11): CSV sink, CSV→parquet
  * converter, single-file parquet sink, partitioned parquet sink, and a
  * catalog external table. At 100 TB the partitioned writer is the real
  * path (partition pruning on read); `coalesce(1)` exists only for the
  * reference's single-artifact parity and small results. */
object Sinks {

  /** S7: CSV with header (the reference's pandas `to_csv`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S8: CSV → parquet converter (the reference's pyarrow DAG step). */
  def csvToParquet(spark: SparkSession, csvPath: String, parquetPath: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val reader = spark.read.option("header", "true")
    val df = schema.map(reader.schema(_)).getOrElse(reader.option("inferSchema", "true"))
      .csv(csvPath)
    df.write.mode(SaveMode.Overwrite).parquet(parquetPath)
  }

  /** S9: single-file parquet sink (golden-artifact parity; small results
    * only — a 100 TB result stays partitioned). */
  def writeSingleParquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Partitioned parquet sink — the scale path: one directory per key value,
    * enabling partition pruning for downstream readers.
    *
    * S10 (object-store sink) note: `path` is any Hadoop-FS URI — the same
    * call writes `gs://…`/`s3a://…` when the connector jar + credentials are
    * on the cluster classpath (the reference's GCS writes are exactly this
    * path through the gcs-connector). This environment is zero-egress with
    * no object-store connector installed, so only `file://` is exercised. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    // REBALANCE by the partition columns before the partitioned write
    // (guide §6 small-files): without it every upstream task writes a
    // file into every partition dir it touches (32 tasks × 10 sources ≈
    // 320 tiny files at sf0.1, re-read twice by q93's merge + gate), and
    // at 100 TB the same shape is the classic small-files explosion. The
    // AQE rebalance clusters rows by partition value AND splits oversized
    // partitions (unlike a plain repartition(col), which would bottleneck
    // a hot partition on one task) — sensible file sizes at any scale.
    df.hint("rebalance", cols.map(functions.col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Schema-evolving read over parquet batches written at different times
    * with different (compatible) schemas — the long-lived-dataset reality at
    * 100 TB: columns get added over months of ingest and a full rewrite is
    * off the table. `mergeSchema` unions all footer schemas (O(#files)
    * footer reads, distributed); rows from batches predating a column read
    * it as null. Spark's default (first-footer schema) is kept as the fast
    * path everywhere else — pay the merge only on datasets known to evolve. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Range-partitioned, sorted-within-file parquet layout — the
    * data-skipping write. Rows are range-partitioned on the key and sorted
    * inside each file, so every file's (and row group's) parquet min/max
    * statistics cover a DISJOINT key range: a point or range predicate on
    * the key prunes to the one file whose stats admit it, at planning time,
    * with no partition directories (which at high key cardinality would
    * explode into millions of tiny files — this layout keeps file count
    * fixed and lets STATISTICS do the pruning; the single-key analogue of
    * Z-ordering). `repartitionByRange` samples the key distribution, so the
    * files are balanced even under skew. */
  def writeRangeSorted(df: DataFrame, path: String, numFiles: Int,
      cols: String*): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** S11 equivalent: external table over parquet files in the session
    * catalog (the reference's BigQuery external table). */
  def registerExternalTable(spark: SparkSession, name: String, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
  }

  /** Bucketed managed table — the co-located-join scale path: two tables
    * written with the same bucket spec on their join key can be joined with
    * ZERO shuffle on either side (Spark trusts the on-disk hash layout).
    * At 100 TB this is the difference between re-shuffling both fact tables
    * on every join and a purely local merge per bucket — the batch analogue
    * of a co-partitioned stream-stream join. Bucket count is the long-lived
    * layout decision: size it to the CLUSTER's parallelism, not the job's. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // the in-memory catalog forgets tables across JVMs but the managed
    // warehouse location persists — clear it or saveAsTable fails with
    // LOCATION_ALREADY_EXISTS on the next process (caught by the oracle
    // gate, invisible to same-JVM tests)
    graft.ops.Artifacts.delete(spark, new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase).toString)
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet").bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** q76: the sink family under the ORACLE gate — a real write + read-back
    * round trip through the range-sorted data-skipping layout. The gated
    * property is LOSSLESSNESS: the oracle computes the same fingerprints
    * from the source table directly, so any row loss, corruption, type
    * drift, or duplication anywhere in the write/read path breaks the
    * hash. NOTE this entry is EAGER at construction (unlike every other
    * lazy catalog entry): building the DataFrame performs the write, and
    * the returned frame reads it back. All invocations in a JVM share ONE
    * dir under the session scratch root ([[graft.ops.Artifacts.scratch]]:
    * overwritten each time — bench's 4× repeats reuse it, no /tmp growth —
    * and deleted by its shutdown hook); paths never reach the output, so
    * the result is location-independent. At scale the same writer targets
    * any Hadoop-FS URI (S10) and the range-sorted layout buys stats-based
    * file pruning on the read side (`SinksSpec` holds the disjoint-min/max
    * guarantee). */
  def q76SinkRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = graft.Tables.spread(s, graft.Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val out = graft.ops.Artifacts.scratch("sink_roundtrip")
    writeRangeSorted(docs, out, 4, "doc_id")
    s.read.parquet(out)
      .select(col("doc_id"), md5(col("text")).as("fp"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q76Sql: String =
    """SELECT doc_id, md5(text) AS fp, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q80: the bucketed co-located join under the ORACLE gate — [[writeBucketed]]
    * promoted from sbt-only to the correctness gate (the q76 story for the
    * bucketed layout). Both fact tables are written bucketed on the join key
    * (8 buckets, sorted within), then joined and aggregated with ZERO
    * exchange on the key: the sort-merge join trusts the on-disk hash
    * layout, and the per-order aggregation that follows reuses the same
    * partitioning (HashPartitioning(l_orderkey) satisfies the
    * (l_orderkey, o_orderpriority) clustering). The only shuffle in the
    * whole query is the final 5-row rollup on o_orderpriority —
    * PlanSpec asserts exactly that. Like q76 this entry is EAGER at
    * construction (the writes happen when the DataFrame is built, both at
    * once through `Par.jobs`) and repeat invocations overwrite the same two
    * catalog tables.
    *
    * At 100 TB this is the layout decision that removes the per-join
    * re-shuffle of both fact tables: pay the bucketed write once at ingest,
    * then every orderkey-keyed join/agg across months of downstream jobs is
    * a purely local merge per bucket. The gated property is that the layout
    * is TRANSPARENT — the oracle computes the same rollup from the raw
    * parquet with a plain join, so any row loss, duplication, or bucket
    * misrouting in the write/read path breaks the hash. */
  def q80BucketedJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // two independent tables with no write→read order between them
    graft.ops.Par.jobs(
      () => writeBucketed(graft.Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
        "graft_q80_lineitem", "l_orderkey", buckets = 8, sortCols = Seq("l_orderkey")),
      () => writeBucketed(graft.Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        "graft_q80_orders", "o_orderkey", buckets = 8, sortCols = Seq("o_orderkey")))
    s.table("graft_q80_lineitem").hint("merge")
      .join(s.table("graft_q80_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("order_qty"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("n_lines")).as("total_lines"),
        sum(col("order_qty").cast("decimal(18,2)")).cast("double").as("total_qty"))
      .orderBy("o_orderpriority")
  }

  val q80Sql: String =
    """SELECT o_orderpriority,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(n_lines) AS BIGINT) AS total_lines,
      |       CAST(SUM(CAST(order_qty AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM (
      |  SELECT l.l_orderkey, o.o_orderpriority,
      |         COUNT(*) AS n_lines,
      |         CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS order_qty
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY l.l_orderkey, o.o_orderpriority)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q81: the partitioned layout under the ORACLE gate ([[writePartitioned]]
    * promoted from sbt-only, completing the layout trilogy: q76 range-sorted
    * stats skipping, q80 bucketed co-location, q81 directory partition
    * pruning). The documents table is written partitioned by `source`
    * (one directory per value — the standard ingest layout for a corpus
    * with a handful of provenance labels), then read back with a 2-of-20
    * source predicate: the filter resolves at PLANNING time against the
    * directory listing, so 18 of 20 partitions are never opened — PlanSpec
    * asserts every input file of the gated frame lives under the two
    * selected directories and the scan carries PartitionFilters. Eager at
    * construction like q76/q80 (one session scratch dir, overwritten per
    * invocation).
    *
    * The gated property is again TRANSPARENCY: per-doc text fingerprints
    * of the pruned read-back vs the oracle's plain filter over the raw
    * parquet — a partition misroute (row under the wrong directory),
    * row loss, or a too-eager prune all break the hash. At 100 TB
    * partition pruning is the first 10–1000× lever on every
    * provenance-/date-scoped query, ahead of row-group stats and column
    * pruning. Partition values land in the directory name, not the file
    * (Spark restores them on read; the oracle reads the raw table, so the
    * gate also proves value round-tripping through the path encoding). */
  def q81PartitionPrune(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = graft.Tables.spread(s, graft.Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val out = graft.ops.Artifacts.scratch("partition_prune")
    writePartitioned(docs, out, "source")
    s.read.parquet(out)
      .filter(col("source").isin("src3", "src7"))
      .select(col("doc_id"), md5(col("text")).as("fp"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q81Sql: String =
    """SELECT doc_id, md5(text) AS fp, source, n_chars
      |FROM documents WHERE source IN ('src3', 'src7') ORDER BY doc_id""".stripMargin

  /** q88: Z-ORDER clustering — the multi-dimensional extension of the
    * layout trilogy (q76 range-sorted stats skipping works for ONE sort
    * key; z-order makes min/max skipping work on TWO filter columns at
    * once, Delta/Iceberg's OPTIMIZE ZORDER). The z-value interleaves the
    * low 8 bits of the two dimensions (bit i of x → z bit 2i, bit i of
    * y → z bit 2i+1) as one codegen'd integer expression — map-side, no
    * shuffle — and `bucket = z >> 10` is the file assignment a
    * `repartitionByRange(z)` writer would produce (each bucket = one
    * 32×32 tile of the key space). The gate materializes the layout
    * CONTRACT: per-bucket row counts and min/max extents of BOTH
    * dimensions — exactly the footer stats a reader would prune on. A
    * correct z-curve bounds every bucket's extent to the tile width
    * (≤ 31 of 255 — asserted in OperatorSpec); a plain sort on x gives
    * the same x-extents but y-extents spanning the full range, which is
    * why it cannot prune y-predicates. Everything is integer arithmetic,
    * bit-identical in both engines; the only shuffle is the partial+final
    * per-bucket agg. */
  private def zBits(n: Int, xe: String, ye: String,
      shl: (String, Int) => String, shr: (String, Int) => String): String =
    (0 until n).map { i =>
      s"${shl(s"(${shr(xe, i)} & 1)", 2 * i)} + ${shl(s"(${shr(ye, i)} & 1)", 2 * i + 1)}"
    }.mkString(" + ")

  def q88ZorderLayout(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, max, min}
    val z = zBits(8, "x", "y",
      (e, k) => s"shiftleft($e, $k)", (e, k) => s"shiftright($e, $k)")
    graft.Tables.spread(s, graft.Tables.lineitem(s, d), "l_orderkey")
      .select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
      .withColumn("z", expr(z))
      .withColumn("bucket", expr("z div 1024"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy("bucket")
  }

  val q88Sql: String = {
    val z = zBits(8, "x", "y",
      (e, k) => s"($e << $k)", (e, k) => s"($e >> $k)")
    s"""SELECT z // 1024 AS bucket, COUNT(*) AS n,
       |       MIN(x) AS x_min, MAX(x) AS x_max,
       |       MIN(y) AS y_min, MAX(y) AS y_max
       |FROM (
       |  SELECT x, y, $z AS z FROM (
       |    SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem))
       |GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Keyed update-else-insert (MERGE) as a batch relational op: matched
    * target rows take the update's values, unmatched target rows survive,
    * brand-new update keys insert. One left-anti equi join on the key —
    * at 100 TB that's a single shuffle of the TARGET on the merge key (or
    * none, when the batch is small enough for AQE to broadcast the anti
    * side), plus the union; nothing driver-side. Pair with
    * [[overwritePartitions]] so only the partitions the batch touches are
    * rewritten — the reference's yearly catchup re-ingest
    * (dags/redskins-rule-dag.py:153-160) is exactly this shape. */
  def mergeUpsert(target: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      target.join(updates.select(key), Seq(key), "left_anti"))

  /** Idempotent INSERT OVERWRITE of exactly the partitions present in
    * `df` (dynamic partition-overwrite): untouched partition directories
    * are never listed, rewritten, or deleted, so a catchup batch re-run is
    * a per-partition replace — re-running the SAME batch converges to the
    * same table (SinksSpec pins both properties, including untouched-file
    * identity). Static overwrite (the default) would drop the WHOLE table
    * first — at 100 TB the difference between rewriting one year and
    * rewriting a decade. */
  def overwritePartitions(df: DataFrame, path: String, cols: String*): Unit =
    // same REBALANCE as [[writePartitioned]] (guide §6) — the catchup
    // batch otherwise fans out into per-task files per touched partition
    df.hint("rebalance", cols.map(functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(path)

  /** The catchup batch for q93: updated versions of every third src3/src7
    * doc plus the same docs re-keyed past the corpus id range as fresh
    * inserts. Derived from the RAW table (not the sink dir) so re-applying
    * the batch is deterministic — the SinksSpec idempotence anchor. */
  private def mergeBatch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val src = graft.Tables.spread(s, graft.Tables.documents(s, d), "doc_id")
      .filter(col("source").isin("src3", "src7") && col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    src.withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(src.withColumn("doc_id", col("doc_id") + 100000000L))
  }

  /** q93: the MERGE + partition-overwrite pipeline under the ORACLE gate —
    * the reference's yearly-catchup backfill re-expressed as engine
    * operators (the last pipeline shape VERDICT r10 named as missing).
    * The documents table is laid out partitioned by `source` (q81's
    * layout); a catchup batch re-ingests provenances src3+src7 with
    * updated rows (doc_id % 3 = 0, n_chars bumped — a metadata re-compute)
    * and late-arriving inserts (fresh ids past the corpus range); the
    * MERGE result for the touched provenances dynamic-overwrites ONLY
    * those two partition directories; the gate fingerprints the read-back
    * of the whole table, so a lost row, a double-apply, a misrouted
    * partition, or an overwrite bleeding into untouched provenances all
    * break the hash. Eager at construction like q76/q80/q81 (one session
    * scratch dir). The oracle is the classic MERGE
    * expansion: updates ∪ (target ⟕̸ updates) ∪ untouched partitions. */
  def q93MergeUpsert(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = graft.Tables.spread(s, graft.Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val out = graft.ops.Artifacts.scratch("merge_upsert")
    writePartitioned(docs, out, "source")
    val touched = s.read.parquet(out)
      .filter(col("source").isin("src3", "src7"))
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    overwritePartitions(
      mergeUpsert(touched, mergeBatch(s, d), "doc_id"), out, "source")
    s.read.parquet(out)
      .select(col("doc_id"), md5(col("text")).as("fp"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q93Sql: String =
    """WITH t AS (SELECT doc_id, text, source, n_chars FROM documents),
      |s37 AS (SELECT * FROM t WHERE source IN ('src3', 'src7')),
      |upd AS (
      |  SELECT doc_id, text, source, n_chars + 1000 AS n_chars
      |  FROM s37 WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000000, text, source, n_chars
      |  FROM s37 WHERE doc_id % 3 = 0),
      |merged AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT * FROM s37 WHERE doc_id NOT IN (SELECT doc_id FROM upd)
      |  UNION ALL
      |  SELECT * FROM t WHERE source NOT IN ('src3', 'src7'))
      |SELECT doc_id, md5(text) AS fp, source, n_chars
      |FROM merged ORDER BY doc_id""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q76_sink_roundtrip", q76SinkRoundtrip _, Some(q76Sql)),
    ("q80_bucketed_join", q80BucketedJoin _, Some(q80Sql)),
    ("q81_partition_prune", q81PartitionPrune _, Some(q81Sql)),
    ("q88_zorder_layout", q88ZorderLayout _, Some(q88Sql)),
    ("q93_merge_upsert", q93MergeUpsert _, Some(q93Sql)),
  )
}
