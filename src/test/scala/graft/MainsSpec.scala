package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.obs.Trace
import graft.ops.Par

/** What every main shares: the one session builder, the run tracer and
  * the oracle JSON the correctness dumps write. */
class MainsSpec extends AnyFunSuite {

  test("one session builder: only graft/obs/Session.scala builds a SparkSession") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val allowed = Paths.get("src/main/scala/graft/obs/Session.scala")
    assert(new String(Files.readAllBytes(allowed), UTF_8).contains(needle),
      s"$allowed no longer holds the builder: move this guard with it")
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala.filter(_.toString.endsWith(".scala"))
    }
    val hits = for {
      p <- sources if p != allowed
      (line, n) <- new String(Files.readAllBytes(p), UTF_8).linesIterator.zipWithIndex
      if line.contains(needle)
    } yield s"$p:${n + 1}"
    assert(hits.isEmpty, s"hand-built sessions (use graft.obs.Session.local): ${hits.mkString("; ")}")
  }

  test("the suite's session carries build.sbt's 2-minute periodic cleaner GC") {
    assert(TestSpark.spark.sparkContext.getConf.get("spark.cleaner.periodicGC.interval") == "2min")
  }

  test("Trace: jobs a Par.jobs pool thread submits land in the span that opened the pool") {
    val sc = TestSpark.spark.sparkContext
    // one job, one stage, two tasks
    def job(): Unit = sc.parallelize(1 to 8, 2).count()
    val t = Trace.on(sc)
    try {
      job() // outside every span: counted nowhere
      t.span("pool") {
        Par.jobs(() => job(), () => t.span("inner")(job()), () => { job(); job() })
      }
      val pool = t.counts("pool")
      val inner = t.counts("inner")
      assert(pool.jobs == 4 && pool.stages == 4 && pool.tasks == 8, pool.toString)
      assert(inner.jobs == 1 && inner.stages == 1 && inner.tasks == 2, inner.toString)
      assert(pool.taskSeconds >= inner.taskSeconds)
    } finally t.close()
  }

  test("oracle_sql.json parses back exactly through a tab, a CR, a quote and a backslash") {
    val sql = Seq(
      "q_tab" -> "SELECT 1\tAS a",
      "q_cr" -> "SELECT 1\r\nFROM t",
      "q_quote" -> "SELECT '\"x\"' AS q",
      "q_backslash" -> "SELECT 'a\\b' AS s",
      "q\t\"\\" -> "\t\r\"\\\u0001")
    val f = Files.createTempDirectory("graft_oracle_json").resolve("oracle_sql.json")
    Files.writeString(f, Verify.oracleJson(sql))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(f.toFile, classOf[java.util.Map[String, String]]).asScala.toMap
    assert(parsed == sql.toMap)
  }
}
