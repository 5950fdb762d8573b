package graft.ops

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** THE ON-DISK LAYOUT OF AN ARTIFACT ROOT — the one module that knows
  * what is inside a version: [[RootPointer]] decides WHICH root a reader
  * sees, this object says what that root holds and how to read it. Every
  * artifact family shares it, and every file set is a [[FileSet]] at
  * `root/<name>`, declared beside its writer:
  * {{{
  *   lexical root (Retrieval)       root/<seg>/tf, df, stats, pp (optional)
  *                                  root/tombstones/<batch>   (doc_id)
  *   containment root (Dedup)       root/<seg>                (the segment IS the set)
  *                                  root/rank                 (frozen df-rank table)
  *   IVF root (Similarity)          root/cents, books, codes
  *                                  root/tombstones/<batch>   (vec_id)
  *                                  root/_VARIANT_RESIDUAL    (empty marker: residual codes)
  *   kNN-graph root (Similarity)    root/edges, cents, cells
  *   rag roots (Retrieval)          root/clusters, vecs
  *   mining root (Similarity, q153) root/cells_mine
  *   vocab version (TextOps)        root/vocab
  *   cluster-fold root (DocStream)  root/ranked, labels
  * }}}
  * where `<seg>` is a `seg*` segment dir. Everything that reads or writes
  * a file set, lists segments or tombstones, writes a tombstone, reads a
  * small line file, copies a frozen file set or needs a filesystem handle
  * goes through here
  * (`ProtocolGuardSpec` fails on the building blocks anywhere else under
  * `src/main`). The session scratch root that the served catalog entries
  * build their artifacts under lives here too. */
object Artifacts {

  // ----------------------------------------------------------- file sets
  /** ONE NAMED, TYPED FILE SET of an artifact root: its parquet lives at
    * [[path]] (`root/name`; the root itself when `name` is empty, the
    * containment segment's shape) and is always read under `schema`, so
    * opening it launches no footer-reading schema-inference job. Both
    * writes first `require` that the frame's schema IS the declared one
    * (nullability aside — an analysis-time check, no job): a declared read
    * of a file that lacks a declared column returns nulls silently, so a
    * writer that drifts must fail at its write instead. */
  final case class FileSet(name: String, schema: StructType) {
    def path(root: String): String = if (name.isEmpty) root else s"$root/$name"

    def exists(s: SparkSession, root: String): Boolean = Artifacts.exists(s, path(root))

    /** The union of this set across `roots` (segments, versions), under
      * the declared schema. */
    def read(s: SparkSession, roots: String*): DataFrame =
      s.read.schema(schema).parquet(roots.map(path): _*)

    /** Write into a root nothing serves yet (a build or a staged version). */
    def write(df: DataFrame, root: String): Unit =
      conformed(df).write.mode("overwrite").parquet(path(root))

    /** Add rows beside the existing files (a streaming append). */
    def append(df: DataFrame, root: String): Unit =
      conformed(df).write.mode("append").parquet(path(root))

    // catalogString spells names and types, never nullability
    private def conformed(df: DataFrame): DataFrame = {
      require(df.schema.catalogString == schema.catalogString,
        s"file set '$name' declares ${schema.catalogString}; its writer emits " +
          df.schema.catalogString)
      df
    }
  }

  // ---------------------------------------------------------- filesystem
  /** The Hadoop filesystem that holds `path`. */
  def fs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  def exists(s: SparkSession, path: String): Boolean = fs(s, path).exists(new Path(path))

  /** Delete `path` recursively (a no-op when it is absent). */
  def delete(s: SparkSession, path: String): Unit = fs(s, path).delete(new Path(path), true)

  /** The sub-directories of `dir` whose names pass `keep`, as full paths,
    * sorted (empty when `dir` is absent). */
  private def subdirs(s: SparkSession, dir: String)(keep: String => Boolean): Seq[String] = {
    val f = fs(s, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && keep(st.getPath.getName))
      .map(_.getPath.toString).sorted
  }

  // ------------------------------------------------------------ segments
  /** The segments of an artifact root — one metadata listing
    * rather than a glob: deterministic order, and no spurious streaming-
    * sink probe warnings on the unexpanded pattern. Only `seg*` dirs
    * count: an in-flight append's `_temporary` staging dir (or any other
    * non-segment entry, such as the containment `rank` table) must never
    * be read as data — that's what keeps the appendable-while-serving
    * claim true. Order note: `.sorted` is lexicographic (seg10 < seg2) —
    * fine because every consumer folds order-independently (union +
    * additive sums), but nothing downstream may ever assume numeric
    * segment order here. Empty when the root does not exist yet. */
  def segments(s: SparkSession, root: String): Seq[String] =
    subdirs(s, root)(_.startsWith("seg"))

  /** [[segments]] of a root that must have some; `family` names the
    * artifact in the refusal. */
  def requireSegments(s: SparkSession, root: String, family: String): Seq[String] = {
    val segs = segments(s, root)
    require(segs.nonEmpty, s"no $family segments under $root")
    segs
  }

  /** Segment count of an artifact root (0 when it doesn't exist yet) —
    * the size-tier input to [[compactOverTier]]. */
  def segmentCount(s: SparkSession, root: String): Int = segments(s, root).size

  /** SIZE-TIERED COMPACTION WINDOW over the published root of `base`: at
    * ≤ `maxSegments` segments it is a metadata-only no-op; past the tier
    * `kernel(cur, out)` writes the merged root into the next version,
    * which [[RootPointer.maintain]] publishes. Returns true iff a
    * compaction published. */
  def compactOverTier(s: SparkSession, base: String, maxSegments: Int)(
      kernel: (String, String) => Unit): Boolean = {
    require(maxSegments >= 1, s"maxSegments must be >= 1, got $maxSegments")
    RootPointer.maintain(s, base) { (cur, out) =>
      segmentCount(s, cur) > maxSegments && { kernel(cur, out); true }
    }.head
  }

  // ---------------------------------------------------- frozen file sets
  /** FILE-copy those of `root`'s named entries that exist (file-set dirs
    * or marker files) into `outRoot`, replacing what is there: the
    * copy-on-write step for what no maintenance step changes — the IVF
    * quantizer and the containment rank table. No Spark job runs, and the
    * copies are byte-equal to the originals. */
  def copyFrozen(s: SparkSession, root: String, outRoot: String, names: String*): Unit = {
    val f = fs(s, root)
    names.map(n => new Path(s"$root/$n")).filter(f.exists).foreach { src =>
      val dst = new Path(s"$outRoot/${src.getName}")
      f.delete(dst, true)
      FileUtil.copy(f, src, f, dst, false, s.sparkContext.hadoopConfiguration)
    }
  }

  // ---------------------------------------------------------- tombstones
  /** The delete batches of an artifact family: each batch is its own
    * immutable `tombstones/<name>` file of one LONG `key` column, so a
    * delete never rewrites a segment, a code table or an earlier batch.
    * Every writer emits [[rows]] and every reader reads under [[schema]],
    * so opening the delete set launches no footer-reading job. */
  final case class Tombstones(key: String) {
    val schema: StructType = StructType(Seq(StructField(key, LongType)))
    private val batch = FileSet("", schema)

    private def rows(ids: DataFrame): DataFrame = ids.select(col(key).cast(LongType).as(key))

    /** Write batch `name` into a root nothing serves yet (a build or a
      * staged version): overwrite. */
    def write(ids: DataFrame, root: String, name: String): Unit =
      batch.write(rows(ids), s"$root/tombstones/$name")

    /** Add batch `name` to a PUBLISHED root: errorifexists — a published
      * root only ever gains files, never has one rewritten. */
    def add(ids: DataFrame, root: String, name: String): Unit =
      rows(ids).write.mode("errorifexists").parquet(s"$root/tombstones/$name")

    /** The batch dirs under `root`, sorted. */
    def dirs(s: SparkSession, root: String): Seq[String] =
      subdirs(s, s"$root/tombstones")(_ => true)

    /** Batch count under `root` (0 when none) — a compaction tier input. */
    def count(s: SparkSession, root: String): Int = dirs(s, root).size

    /** The union of `root`'s batches as a (key) frame, or None when the
      * root carries none — the ONE definition of "the delete set". NOT
      * deduplicated: serving and compaction consume it through anti (or
      * semi) joins, where a duplicate id cannot change the result; a
      * consumer that writes or counts the rows dedups itself. */
    def union(s: SparkSession, root: String): Option[DataFrame] = {
      val ds = dirs(s, root)
      if (ds.isEmpty) None else Some(batch.read(s, ds: _*))
    }
  }

  /** Deleted documents of a lexical index. */
  val DocTombstones: Tombstones = Tombstones("doc_id")

  /** Deleted vectors of an IVF root. */
  val VecTombstones: Tombstones = Tombstones("vec_id")

  // ----------------------------------------------- marker and line files
  /** Variant marker: a residual-encoded IVF root carries this empty file. */
  val ResidualMarker = "_VARIANT_RESIDUAL"

  def markResidual(s: SparkSession, root: String): Unit = {
    val p = new Path(s"$root/$ResidualMarker")
    fs(s, root).create(p, true).close()
  }

  def isResidual(s: SparkSession, root: String): Boolean =
    exists(s, s"$root/$ResidualMarker")

  /** A small line-list file (pointer, memo or manifest), trimmed, blank
    * lines dropped: empty when absent. */
  def readLines(s: SparkSession, path: String): Seq[String] = {
    val f = fs(s, path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Create or replace a small line-list file (parent dirs are created). */
  def writeLines(s: SparkSession, path: String, lines: Seq[String]): Unit = {
    val o = fs(s, path).create(new Path(path), true)
    try o.write(lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally o.close()
  }

  // ---------------------------------------------------- session scratch
  /** ONE scratch root per JVM for every artifact a catalog entry builds
    * and reads back (served indexes, sink round trips), deleted by a
    * shutdown hook; its paths never reach output. */
  private lazy val scratchRoot: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    sys.addShutdownHook {
      import java.nio.file.{Files, Path => JPath}
      import scala.jdk.CollectionConverters._
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach((f: JPath) => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    p.toString
  }

  /** A named dir under the session scratch root (not created). */
  def scratch(name: String): String = s"$scratchRoot/$name"

  /** Per-dataset dir under the session scratch root: a sanitized tail of
    * the dataset path plus its full-path hash (collision-proof across
    * same-named leaf dirs). Keyed by dataset so building a served entry
    * for a second dataset in the same JVM never overwrites the parquet a
    * still-lazy frame from an earlier dataset will read; stable within
    * the JVM, so repeated builds for the SAME dataset overwrite in place. */
  def datasetScratch(d: String): String =
    scratch(s"${d.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)}_" +
      java.lang.Integer.toHexString(d.hashCode))
}
