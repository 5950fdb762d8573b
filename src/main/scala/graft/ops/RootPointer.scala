package graft.ops

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** VERSIONED-ROOT SERVING POINTER — the one crash-safe protocol by which
  * an artifact changes: a writer stages a complete new version, then
  * publishes it. Readers resolve a published root per serve and never
  * observe a version being built.
  *
  * Layout under a `base` directory:
  * {{{
  *   base/v00001/...        # a complete artifact root (published, immutable)
  *   base/v00001/_ROOT_COMPLETE
  *   base/v00002/...        # a maintenance step's output (no marker yet)
  *   base/v00003/...        # the next chained step's output, read from v00002
  *   base/_CURRENT          # tiny file naming the published version
  * }}}
  *
  * WRITER protocol (one writer per base, in sequence):
  *  1. stage the full artifact into `base/v<next>`;
  *  2. [[publish]] — writes `_ROOT_COMPLETE` into the version dir, THEN
  *     updates `_CURRENT`.
  * Every maintenance action (compaction, split, merge) runs through
  * [[maintain]], which chains copy-on-write steps through unpublished
  * versions and publishes only the last. A crash anywhere before the
  * publish leaves unmarked dirs that the next window's [[cleanStaging]]
  * deletes; there is nothing to recover.
  *
  * READER protocol: [[resolve]] once per serve, then read only under the
  * resolved root. A reader can NEVER observe an incomplete root:
  *  - the pointer is only ever updated AFTER the completeness marker, so
  *    whatever version it names is complete;
  *  - if the pointer itself is mid-rewrite (the one non-atomic window —
  *    a tiny create-overwrite), [[resolve]] falls back to the NEWEST
  *    version carrying `_ROOT_COMPLETE`, which is either the old current
  *    (marker order) or the new one — both complete;
  *  - published roots are never rewritten: ingest only ADDS new immutable
  *    files to the current root (segments, tombstone dirs, appended code
  *    parts), so a serve that resolved v1 keeps reading consistent files
  *    while v2 publishes and after the pointer flips (retirement honors a
  *    grace window — [[retireOld]]). */
object RootPointer {
  val Pointer = "_CURRENT"
  val Complete = "_ROOT_COMPLETE"
  private val VersionRe = "^v(\\d{5})$".r

  /** All version dirs under base carrying the completeness marker,
    * oldest → newest. */
  def completeVersions(s: SparkSession, base: String): Seq[String] = {
    val fs = Artifacts.fs(s, base)
    val b = new Path(base)
    if (!fs.exists(b)) Seq.empty
    else fs.listStatus(b).toSeq
      .filter(st => st.isDirectory && VersionRe.findFirstIn(st.getPath.getName).isDefined)
      .map(_.getPath.getName).sorted
      .filter(v => fs.exists(new Path(s"$base/$v/$Complete")))
  }

  /** The next version NAME to stage into (max existing + 1, complete or
    * not — a crashed staging dir must not be reused until cleaned). */
  def nextVersion(s: SparkSession, base: String): String = {
    val fs = Artifacts.fs(s, base)
    val b = new Path(base)
    val maxN =
      if (!fs.exists(b)) 0
      else fs.listStatus(b).toSeq.map(_.getPath.getName).collect {
        case VersionRe(n) => n.toInt
      }.foldLeft(0)(math.max)
    f"v${maxN + 1}%05d"
  }

  /** Mark `version` complete and flip the pointer to it. The marker write
    * precedes the pointer write — the order the reader fallback relies
    * on. */
  def publish(s: SparkSession, base: String, version: String): Unit = {
    val fs = Artifacts.fs(s, base)
    require(fs.exists(new Path(s"$base/$version")),
      s"cannot publish missing version dir $base/$version")
    fs.create(new Path(s"$base/$version/$Complete"), true).close()
    Artifacts.writeLines(s, s"$base/$Pointer", Seq(version))
  }

  /** Resolve the current serving root (a full path under base). Pointer
    * first; if it is missing, unreadable, or names an incomplete/absent
    * version (the mid-rewrite window, or a crashed publish), fall back to
    * the newest COMPLETE version. Throws only when nothing was ever
    * published. */
  def resolve(s: SparkSession, base: String): String = {
    val fromPointer = Artifacts.readLines(s, s"$base/$Pointer").headOption
      .filter(v => Artifacts.exists(s, s"$base/$v/$Complete"))
    val v = fromPointer.orElse(completeVersions(s, base).lastOption)
      .getOrElse(throw new IllegalStateException(
        s"no published artifact root under $base"))
    s"$base/$v"
  }

  /** Retire published roots past the grace window: keep the newest `keep`
    * complete versions (and always the pointer target, whichever it is).
    * Returns the deleted version names. Writer-only call — run it AFTER a
    * publish, when every serve started before the flip has had its grace
    * window. */
  def retireOld(s: SparkSession, base: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val fs = Artifacts.fs(s, base)
    val current = resolve(s, base).split('/').last
    val victims = completeVersions(s, base).dropRight(keep)
      .filter(_ != current)
    victims.foreach(v => fs.delete(new Path(s"$base/$v"), true))
    victims
  }

  /** Delete UNPUBLISHED version dirs (no completeness marker) — crashed
    * stagings. Writer-only: only the single maintenance writer creates
    * version dirs, so any unmarked one it did not just create is a crash
    * remnant, never an in-flight publish. */
  def cleanStaging(s: SparkSession, base: String): Seq[String] = {
    val fs = Artifacts.fs(s, base)
    val b = new Path(base)
    if (!fs.exists(b)) return Seq.empty
    val victims = fs.listStatus(b).toSeq
      .filter(st => st.isDirectory && VersionRe.findFirstIn(st.getPath.getName).isDefined)
      .map(_.getPath.getName)
      .filter(v => !fs.exists(new Path(s"$base/$v/$Complete")))
    victims.foreach(v => fs.delete(new Path(s"$base/$v"), true))
    victims.sorted
  }

  /** ONE MAINTENANCE WINDOW over `base`. Each step is a copy-on-write
    * kernel `(prev, out) => acted`: it reads the previous root and, when
    * its tier fires, writes a complete new root into the fresh unpublished
    * version `out` (returning false leaves nothing — a partial `out` is
    * deleted). Steps chain in order, each reading the last acting step's
    * output, starting from the resolved current root. The window then
    * publishes the last acting step's version, or nothing, and deletes
    * the intermediate versions.
    *
    * Root-level plain files the acting step did not write (the
    * `_VARIANT_RESIDUAL` marker) carry into its version; directories are
    * the kernel's to write.
    *
    * Contract: one writer per base, in sequence. Ingest between windows
    * only adds files to the current root, so the window compares that
    * root's file listing before publishing: a file that appeared (or
    * vanished) during the window — a concurrent delete or append the
    * staged version never saw — makes the publish REFUSE with an
    * IllegalStateException instead of silently dropping (or resurrecting)
    * rows. Any failure leaves the current root serving and no staging.
    * Returns each step's acted flag. */
  private[graft] def maintain(s: SparkSession, base: String)(
      steps: ((String, String) => Boolean)*): Seq[Boolean] = {
    val fs = Artifacts.fs(s, base)
    cleanStaging(s, base)
    val cur = resolve(s, base)
    val before = listing(fs, cur)
    try {
      var prev = cur
      val acted = steps.map { step =>
        val out = s"$base/${nextVersion(s, base)}"
        val did = step(prev, out)
        if (did) { carryFiles(s, fs, prev, out); prev = out }
        else fs.delete(new Path(out), true)
        did
      }
      if (prev != cur) {
        if (listing(fs, cur) != before)
          throw new IllegalStateException(
            s"$cur changed during the maintenance window (one writer per base): " +
              "refusing to publish a version that does not contain the change")
        publish(s, base, new Path(prev).getName)
      }
      acted
    } finally cleanStaging(s, base) // intermediates, or everything on failure
  }

  /** (relative path, length) of every file under `root`. */
  private def listing(fs: FileSystem, root: String): Set[(String, Long)] = {
    val it = fs.listFiles(new Path(root), true)
    val prefix = fs.makeQualified(new Path(root)).toString
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(st => (st.getPath.toString.stripPrefix(prefix), st.getLen)).toSet
  }

  private def carryFiles(s: SparkSession, fs: FileSystem, prev: String,
      out: String): Unit =
    fs.listStatus(new Path(prev))
      .filter(st => st.isFile && st.getPath.getName != Complete)
      .map(st => (st.getPath, new Path(out, st.getPath.getName)))
      .filter { case (_, dst) => !fs.exists(dst) }
      .foreach { case (src, dst) =>
        FileUtil.copy(fs, src, fs, dst, false, s.sparkContext.hadoopConfiguration)
      }
}
