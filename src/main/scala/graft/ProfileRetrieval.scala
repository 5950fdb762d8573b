package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev guard: the retrieval-family serving economics at 50× the sf0.1
  * document count — `graft.ProfileRetrieval [sfDir] [nFresh]` (default
  * /tmp/sfbig 1000). Times, on the 100k-doc corpus:
  *   - `bm25_self`      q95's self-contained build+rank
  *   - `lex_build`      the one-time segmented-artifact build (seg0)
  *   - `bm25_served`    rank from the artifact (q113's shape) — only the
  *                      eval-query tokenize + vocab-sized dictionary fold
  *                      run outside the parquet scans
  *   - `lex_append_1pct` folding 1% fresh docs as a new segment (q115's
  *                      shape) — O(fresh) tokenize+count, base untouched
  *   - `bm25_served_2seg` rank after the append (two-segment fold)
  *   - `conjunctive`    q112's boolean-AND pass over the same index
  *   - `rrf_fusion`     q111's two-arm fusion (BM25 + brute cosine@100k)
  * plus the round-14 extension rows: `proximity`/`prf_expansion`/
  * `snippet`/`fuzzy_search`/`cluster_collapsed` (q121–q125 at the same
  * 100k scale) and the tombstone economics (`tombstone_write` — one tiny
  * immutable file — and `bm25_served_tomb`, the corrected serve, vs the
  * plain fold; q126).
  * The claim the numbers back (BASELINE.md round-14 anchors): build
  * amortizes — served rank ≪ self-contained, and the 1% append costs
  * ~1% of a rebuild, so a streaming corpus keeps its lexical index
  * current without ever re-tokenizing history. */
object ProfileRetrieval {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/sfbig")
    val nFresh = if (args.length > 1) args(1).toInt else 1000
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
      println(f"$label%-22s $s%8.2f s$extra")
      spark.sharedState.cacheManager.clearCache()
    }
    val nDocs = Tables.documents(spark, d).count()
    println(s"corpus: $nDocs docs at $d; fresh batch: $nFresh")

    time("bm25_self") {
      val p = TextOps.bm25Parts(spark, d)
      TextOps.bm25RankedFrom(p.tf, p.df, p.stats, p.qt).count()
    }

    val path = "/tmp/graft_lex_profile"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    time("lex_build") {
      Retrieval.lexIndexSegment(TextOps.tokenizedDocs(spark, d), path, "seg0")
    }
    time("bm25_served") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, path)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }

    val fresh = spark.range(nDocs, nDocs + nFresh)
      .map(id => (id, GenCorpus.docText(id, 10000L))).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    time("lex_append_1pct") {
      Retrieval.lexIndexAppend(spark, path, fresh, "seg1")
    }
    time("bm25_served_2seg") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, path)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }

    // the LSM tail: 8 more daily-sized appends (10 segments total), serve
    // cost with a long segment history, then compaction resets it flat
    (2 to 9).foreach { k =>
      val b = spark.range(nDocs + k.toLong * nFresh, nDocs + (k + 1).toLong * nFresh)
        .map(id => (id, GenCorpus.docText(id, 10000L))).toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      Retrieval.lexIndexAppend(spark, path, b, s"seg$k")
    }
    time("bm25_served_10seg") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, path)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }
    val cpath = path + "_compacted"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cpath))
    time("compact_10seg") { Retrieval.lexIndexCompact(spark, path, cpath) }
    time("bm25_served_compacted") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, cpath)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }

    time("conjunctive") { Retrieval.q112Conjunctive(spark, d).count() }
    time("rrf_fusion") { Retrieval.q111HybridRrf(spark, d).count() }
    time("rrf_fusion_ann") { Retrieval.q116HybridRrfAnn(spark, d).count() }
    time("phrase_search") { Retrieval.q117PhraseSearch(spark, d).count() }
    time("query_likelihood") { Retrieval.q119QueryLikelihood(spark, d).count() }
    time("mmr_diversified") { Retrieval.q114MmrDiversified(spark, d).count() }

    // round-14 extension: the proximity/PRF/snippet/fuzzy/collapse/delete
    // family at the same 100k scale (q124 includes q53's clustering passes
    // — its cost is dominated by the audited near-dup cluster build, the
    // documented composition)
    time("proximity") { Retrieval.q121Proximity(spark, d).count() }
    time("prf_expansion") { Retrieval.q122PrfExpansion(spark, d).count() }
    time("snippet") { Retrieval.q123Snippet(spark, d).count() }
    time("fuzzy_search") { Retrieval.q125FuzzySearch(spark, d).count() }
    time("cluster_collapsed") { Retrieval.q124ClusterCollapsed(spark, d).count() }
    // tombstone economics on the 10-segment artifact: the delete write is
    // O(delete set); the served corrections add two doc-keyed joins and a
    // vocab-sized decrement on top of the plain fold
    val delIds = Tables.documents(spark, d)
      .filter(col("doc_id") % 7 === 3 && col("doc_id") >= 5).select("doc_id")
    time("tombstone_write") { Retrieval.lexTombstone(delIds, path, "t0") }
    time("bm25_served_tomb") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, path)
      TextOps.bm25RankedFrom(tf, df, st, TextOps.queryTerms(spark, d)).count()
    }
    // round-15: the fully artifact-served entry's economics (q133's shape).
    // labels_build is the ONE-TIME cluster-artifact cost (the corpus-linear
    // piece q124 pays in-query, measured here as the amortized build);
    // retrieval_served_full is the steady-state serve — scored pass from
    // the segmented artifact + tombstone corrections + the collapse join
    // against the persisted label map, NO tokenize/cluster kernel.
    val lpath = path + "_labels"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lpath))
    time("labels_build") {
      graft.ops.Dedup.q53DedupClusters(spark, d)
        .write.mode("overwrite").parquet(lpath)
    }
    time("retrieval_served_full") {
      val (tf, df, st) = Retrieval.lexIndexServe(spark, path)
      Retrieval.collapseRankFrom(
        TextOps.bm25ScoredFrom(tf, df, st, TextOps.queryTerms(spark, d)),
        spark.read.parquet(lpath)).count()
    }
    spark.stop()
  }
}
