package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Guard for the ONE artifact protocol: every maintenance action stages a
  * new version and publishes it through `RootPointer.maintain`. The
  * in-place protocol it replaced (scratch dirs renamed over live files,
  * commit markers) must not come back piecemeal, so `src/main` may not
  * contain its building blocks at all. */
class ProtocolGuardSpec extends AnyFunSuite {

  test("src/main carries no in-place swap machinery: no rename, scratch dirs or commit markers") {
    val banned = Seq(".rename(", "__compacting", "__splitting", "__merging", "_COMMIT")
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no sources under $root")
    val hits = for {
      p <- sources
      (line, n) <- new String(Files.readAllBytes(p), UTF_8).linesIterator.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$p:${n + 1}: $b"
    assert(hits.isEmpty,
      s"in-place swap machinery in src/main (stage a version and publish it instead): " +
        hits.mkString("; "))
  }
}
