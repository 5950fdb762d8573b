package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev guard: the LEXICAL index family at 1M docs — the round-14 verdict's
  * scale-ceiling item (ANN/graph had 1M probes; the text family's evidence
  * stopped at 100k). `graft.ProfileLexScale [sfDir] [nFresh]` (default
  * /tmp/sfbig1m 10000 — generate the corpus first with
  * `graft.GenCorpus /tmp/sfbig1m 1000000`). Rows:
  *   - `lex_build`            one-time segmented-artifact build (seg0)
  *   - `bm25_served`          rank from the artifact (q113's shape)
  *   - `lex_append_1pct`      fold nFresh docs as a new segment (q115) —
  *                            the O(fresh) claim at 10× the 100k anchor
  *   - `bm25_served_2seg`     the serve-side df fold over two segments
  *   - `compact_2seg`         LSM merge to a new root
  *   - `bm25_served_compacted` the reset serve floor
  *   - `lexpos_build`         positional segment (tf/df/stats + pp)
  *   - `phrase_served`        q120's kernel over the served pp (q117 query
  *                            convention: each query doc's first 3 tokens)
  * Claims these anchor (BASELINE.md): build and serve grow ~linearly from
  * the 100k rows (the serve-side fold is vocab-bounded — the vocabulary is
  * CONSTANT in this corpus family, so served rank should grow ≪ 10×), and
  * the append stays O(fresh), not O(corpus). */
object ProfileLexScale {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/sfbig1m")
    val nFresh = if (args.length > 1) args(1).toInt else 10000
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ops.{Retrieval, TextOps}
    import spark.implicits._
    def time(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      val extra = r match { case n: Long => s" rows=$n"; case _ => "" }
      println(f"$label%-24s $s%8.2f s$extra")
      spark.sharedState.cacheManager.clearCache()
    }
    val nDocs = Tables.documents(spark, d).count()
    println(s"corpus: $nDocs docs at $d; fresh batch: $nFresh")

    val path = "/tmp/graft_lex1m_profile"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    time("lex_build") {
      Retrieval.lexIndexSegment(TextOps.tokenizedDocs(spark, d), path, "seg0")
    }
    time("bm25_served") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, path)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }
    val fresh = spark.range(nDocs, nDocs + nFresh)
      .map(id => (id, GenCorpus.docText(id, 100000L))).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    time("lex_append_1pct") {
      Retrieval.lexIndexAppend(spark, path, fresh, "seg1")
    }
    time("bm25_served_2seg") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, path)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }
    val cpath = path + "_compacted"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cpath))
    time("compact_2seg") { Retrieval.lexIndexCompact(spark, path, cpath) }
    time("bm25_served_compacted") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, cpath)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }
    val ppath = path + "_pos"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ppath))
    time("lexpos_build") {
      Retrieval.lexIndexSegmentPos(TextOps.tokenizedDocs(spark, d), ppath, "seg0")
    }
    time("phrase_served") {
      Retrieval.phraseRankFrom(Retrieval.lexIndexServePos(spark, ppath),
        Retrieval.phraseTermsOf(TextOps.tokenizedDocs(spark, d))).count()
    }
    // delete economics at 1M (the q126 contract at 10× its 100k anchors):
    // the tombstone write is O(delete set); the corrected serve adds the
    // semi/anti posting passes on top of the plain fold
    val delIds = Tables.documents(spark, d)
      .filter(col("doc_id") % 7 === 3 && col("doc_id") >= 5).select("doc_id")
    time("tombstone_write") { Retrieval.lexTombstone(delIds, cpath, "t0") }
    time("bm25_served_tomb") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, cpath)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }
    spark.stop()
  }
}
