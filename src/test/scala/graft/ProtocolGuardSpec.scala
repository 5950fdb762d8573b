package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-scan guards for the artifact code:
  *  - the ONE artifact protocol: every maintenance action stages a new
  *    version and publishes it through `RootPointer.maintain`. The
  *    in-place protocol it replaced (scratch dirs renamed over live
  *    files, commit markers) must not come back piecemeal, so `src/main`
  *    may not contain its building blocks at all;
  *  - the ONE layout module: only `graft.ops.Artifacts` lists segments,
  *    spells tombstone paths, makes scratch dirs or opens a filesystem
  *    handle. */
class ProtocolGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** `file:line: needle` for every line of a `src/main` source (except
    * those `skip` names) that contains one of `banned`. */
  private def hits(banned: Seq[String], skip: Path => Boolean): Seq[String] = {
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !skip(p)).toSeq
    assert(sources.nonEmpty, s"no sources under $root")
    for {
      p <- sources
      (line, n) <- new String(Files.readAllBytes(p), UTF_8).linesIterator.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$p:${n + 1}: $b"
  }

  test("src/main carries no in-place swap machinery: no rename, scratch dirs or commit markers") {
    val found = hits(Seq(".rename(", "__compacting", "__splitting", "__merging", "_COMMIT"),
      _ => false)
    assert(found.isEmpty,
      s"in-place swap machinery in src/main (stage a version and publish it instead): " +
        found.mkString("; "))
  }

  test("only Artifacts.scala knows the artifact layout: no scratch dirs, tombstone paths, segment listings or filesystem handles elsewhere") {
    val layout = root.resolve("graft/ops/Artifacts.scala")
    assert(Files.exists(layout), s"$layout is gone")
    val found = hits(Seq("createTempDirectory", "/tombstones", "startsWith(\"seg\")",
      "getFileSystem("), _ == layout)
    assert(found.isEmpty,
      s"artifact layout outside graft.ops.Artifacts (call it instead): " + found.mkString("; "))
  }
}
