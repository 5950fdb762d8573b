package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The client-side half of the benchmark's self-tests (`run.py
  * --selftest` asserts on what this writes):
  *  - a plan of known shape under a nested span: one job of two stages
  *    (3 map tasks, one shuffle, 2 reduce tasks) submitted from the inner
  *    span, and one job with one 4-task stage from the outer one;
  *  - corpus generation for seeds 1, 1 and 2 into separate directories;
  *  - the q154 funnel's audit rows on the first of those corpora.
  *
  * Usage: `graft.perfbench.SelfTest <workDir> <outFile>` */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val Array(work, outFile) = argv
    val s: SparkSession = Main.session(2, work)
    val t = new Trace(s.sparkContext, traced = true)
    val sc = s.sparkContext
    t.span("outer") {
      t.span("inner") {
        sc.parallelize(1 to 3000, 3).map(x => (x % 7, 1L)).reduceByKey(_ + _, 2).collect()
      }
      sc.parallelize(1 to 100, 4).map(_ * 2).count()
    }
    t.drain()
    t.close()
    val traceJson = t.toJson
    val gens = Seq("a" -> 1L, "b" -> 1L, "c" -> 2L).map { case (tag, seed) =>
      val sums = Gen.write(s"$work/gen-$tag", "", seed, 0, 200, 20, vectors = true)
      tag -> Json.obj(sums.map { case (k, v) => k -> Json.str(v) })
    }
    // the funnel on the seed-1 corpus, for the DuckDB comparison
    val funnel = graft.ops.Corpus.q154CurationFunnel(s, s"$work/gen-a").collect()
      .map(r => Json.arr(Seq(r.getLong(0).toString, Json.str(r.getString(1))) ++
        (2 to 4).map(i => r.getLong(i).toString)))
    val sql = graft.ops.Corpus.catalog.collectFirst {
      case ("q154_curation_funnel", _, Some(q)) => q
    }.get
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.print(Json.obj(Seq("trace" -> traceJson, "gen" -> Json.obj(gens),
      "funnel" -> Json.arr(funnel), "funnel_sql" -> Json.str(sql))))
    finally w.close()
    s.stop()
  }
}
