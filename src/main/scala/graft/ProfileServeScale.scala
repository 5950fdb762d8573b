package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev guard: the SERVED-COMPOSITE economics at 100k and 1M docs —
  * `graft.ProfileServeScale [sfDir]` (default /tmp/sfbig; run again at
  * /tmp/sfbig1m for the 10× growth ratios the round-15 verdict asked
  * for: "the claim 'nothing corpus-linear at serve time' for q133/q138
  * is anchored only at 100k"). Build rows price each artifact family
  * once; serve rows are the MARGINAL cost of the composed entries:
  *   - q133_serve: corrected lexical frames → scored → label collapse
  *   - q138_serve: + the IVF-PQ live-docs arm and RRF fusion
  *   - q147_serve: + MMR over the served vectors and snippet windows
  *     from the served positional postings
  * Serve-time inputs are ALL artifact scans; the eval-query term table
  * is the only recompute. The 10× ratios between the two corpora are
  * the gated claims — vocab-bounded df folds and eval-sized fusion
  * should grow far slower than the corpus; the one corpus-linear input
  * is the postings scan itself. */
object ProfileServeScale {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/sfbig")
    // labels mode: "q53" builds the real near-dup cluster artifact (the
    // entries' build); "mod" writes a SHAPE-EQUIVALENT synthetic label
    // artifact (doc_id → its group-of-10 root: same row count, schema,
    // and serve-side join shape). The mod escape hatch exists because the
    // q53 build at 1M is its own open anchor (the round-16 attempt died
    // in the pair-graph fixpoint — see BASELINE); SERVE rows measured
    // under mod are valid marginal-cost anchors, label provenance never
    // enters the serve plan.
    val labelsMode = if (args.length > 1) args(1) else "q53"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(spark)
    import graft.ops.{Dedup, Retrieval, Similarity, TextOps}
    def time(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      val extra = r match { case n: Long => s" rows=$n"; case _ => "" }
      println(f"$label%-18s $sec%8.2f s$extra")
      spark.sharedState.cacheManager.clearCache()
    }
    val root = "/tmp/graft_serve_profile"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val docs = TextOps.tokenizedDocs(spark, d)
    println(s"corpus: ${Tables.documents(spark, d).count()} docs at $d")

    time("build_lex") {
      Retrieval.lexIndexSegmentPos(docs, s"$root/lex", "seg0")
      Retrieval.lexTombstone(docs.filter(col("doc_id") % 7 === 3 &&
        col("doc_id") >= Similarity.AdcQueries).select("doc_id"), s"$root/lex", "t0")
    }
    time(s"build_labels_$labelsMode") {
      val labels =
        if (labelsMode == "mod")
          Tables.documents(spark, d).select(col("doc_id"),
            (col("doc_id") - col("doc_id") % 10).as("cluster_id"))
        else Dedup.q53DedupClusters(spark, d)
      labels.write.mode("overwrite").parquet(s"$root/clusters")
    }
    time("build_ivf") {
      val (emb, subs, seedsPq) = Similarity.pqParts(spark, d)
      val (cents, books, codeTable) = Similarity.ivfPqIndex(emb, subs, seedsPq)
      cents.write.mode("overwrite").parquet(s"$root/ivf/cents")
      books.write.mode("overwrite").parquet(s"$root/ivf/books")
      codeTable.write.mode("overwrite").parquet(s"$root/ivf/codes")
      emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= Similarity.AdcQueries)
        .select("vec_id").write.mode("overwrite").parquet(s"$root/ivf/tombstones/t0")
      Similarity.embWithNorm(spark, d).select("vec_id", "e", "nrm")
        .write.mode("overwrite").parquet(s"$root/vecs")
    }

    def qt = TextOps.queryTermsOf(docs)
    def lexArm() = {
      val (tf, df, stats) = Retrieval.lexIndexServe(spark, s"$root/lex")
      (tf, df, stats)
    }
    time("q133_serve") {
      val (tf, df, stats) = lexArm()
      Retrieval.collapseRankFrom(
        TextOps.bm25ScoredFrom(tf, df, stats, qt),
        spark.read.parquet(s"$root/clusters")).count()
    }
    def fusedServe() = {
      val (tf, df, stats) = lexArm()
      val lex = TextOps.bm25RankedFrom(tf, df, stats, qt)
        .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
      val live = spark.read.parquet(s"$root/ivf/codes")
        .join(spark.read.parquet(s"$root/ivf/tombstones/t0").select("vec_id").distinct(),
          Seq("vec_id"), "left_anti")
      val sem = Similarity.ivfPqSearchFrom(spark.read.parquet(s"$root/ivf/cents"),
          spark.read.parquet(s"$root/ivf/books"), live,
          Similarity.embWithNorm(spark, d)
            .filter(col("vec_id") < TextOps.Bm25NQueries).select("vec_id", "e"),
          k = Retrieval.SemK)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn").as("sem_rnk"))
      Retrieval.collapseRankFrom(
        Retrieval.rrfScores(lex, sem).select(col("query_id"), col("doc_id"),
          col("rrf").as("score")),
        spark.read.parquet(s"$root/clusters"))
    }
    time("q138_serve") { fusedServe().count() }
    time("q147_serve") {
      val sel = Retrieval.mmrSelect(
        fusedServe().select(col("query_id"), col("doc_id"),
          (col("score").cast("double") / lit(Retrieval.MmrRelNorm.toDouble)).as("rel")),
        spark.read.parquet(s"$root/vecs"))
      val snip = Retrieval.snippetFrom(
        Retrieval.lexIndexServePos(spark, s"$root/lex"), qt,
        sel.select("query_id", "doc_id"))
      sel.join(snip, Seq("query_id", "doc_id"), "left").count()
    }
    spark.stop()
  }
}
