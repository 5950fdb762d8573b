package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** The hybrid-retrieval family: the serving patterns a RAG / eval-harness
  * stack runs against a trained corpus — lexical BM25 (q95), exact/ANN
  * vector search (q28/q74/q110), and here their composition: reciprocal-
  * rank fusion (q111), conjunctive keyword search (q112), and the lexical
  * index served from a persisted artifact (q113).
  *
  * Reference scope: the reference engine's query surface is relational
  * (jobs/transform/nfl-elec-transform-v2.py); this family is part of the
  * beyond-reference training-data/serving catalog (builder brief), built
  * from the SAME audited arms — q95's tokenization/index CTEs and q28's
  * ranked-cosine discipline — so the fusion adds no new float ops at all.
  */
object Retrieval {

  /** RRF constant (Cormack et al.'s k=60) and the fixed-point scale: each
    * arm contributes floor(10⁹/(60+rank)) — an exact integer both engines
    * compute from the same IEEE double division, so the fused score is a
    * BIGINT sum of two BIGINTs (order-independent, hash-stable). */
  private val RrfK = 60
  private val RrfScale = 1000000000.0
  private val FusedK = 10
  private[graft] val SemK = 10

  /** q111: HYBRID RETRIEVAL via reciprocal-rank fusion — the standard
    * two-arm RAG serving pattern: a lexical arm (q95's BM25 top-10 ranked
    * list) and a semantic arm (q28's brute cosine top-10, vec i ≡ doc i in
    * the testdata entity space) fused per (query, doc) by
    * Σ_arms floor(10⁹/(60+rank)), absent arms contributing 0.
    *
    * Hashability: ranks are the only inputs — both arms' tie-breaks are
    * already oracle-certified (q95/q28) — and the fused score is integer
    * arithmetic end-to-end; the one division is a correctly-rounded IEEE
    * double op identical in both engines, floored before the 2-term sum.
    *
    * Scale shape: each arm is its own audited serving plan (BM25: map-side
    * tf, broadcast query terms, partial+final score agg; cosine: the exact
    * arm — or any ANN arm by substitution since only ranks cross the
    * interface). The fusion itself aggregates the union of two
    * (n_queries·k)-row lists — eval-set-sized, never corpus-sized — by
    * (query_id, doc_id) in one partition ([[rrfScores]]), so a doc found by
    * one arm only still fuses and the fused top-k plans with no exchange. */
  def q111HybridRrf(s: SparkSession, d: String): DataFrame = {
    val p = TextOps.bm25Parts(s, d)
    val lex = TextOps.bm25RankedFrom(p.tf, p.df, p.stats, p.qt)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val sem = Similarity.cosRanked(s, d, TextOps.Bm25NQueries, SemK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn").as("sem_rnk"))
    rrfFuse(lex, sem)
  }

  /** The fusion kernel shared VERBATIM by q111 (exact cosine arm) and q116
    * (IVF-PQ arm) — the substitution seam the arm-interface claim rests
    * on: only (query_id, doc_id, rank) crosses it, so the two entries can
    * never drift on the fusion arithmetic. Eval-set-sized on both inputs
    * (each arm is its own audited serving plan); a doc found by one arm
    * only still fuses. The window and the final order run in
    * [[rrfScores]]'s one partition, so they add no exchange. */
  private def rrfFuse(lex: DataFrame, sem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    rrfScores(lex, sem)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= FusedK)
      .select("query_id", "rnk", "doc_id", "rrf", "lex_rnk", "sem_rnk")
      .orderBy("query_id", "rnk")
  }

  /** The PRE-RANK fused score table (every (query, doc) either arm
    * surfaced, with its integer RRF sum) — [[rrfFuse]] minus the top-k
    * window: the seam a post-fusion collapse (q138) interposes on,
    * mirroring what [[TextOps.bm25ScoredFrom]] is to `bm25RankedFrom`.
    *
    * Precondition: each arm has at most one row per (query_id, doc_id).
    * `bm25RankedFrom` groups by that key, and the IVF top-k ranks the
    * distinct `vec_id`s of a code table. Under it, one aggregate over the
    * union of the arms, each carrying its own rank and a null for the
    * other's, equals the full-outer join on (query_id, doc_id) (OperatorSpec
    * pins the two against each other).
    *
    * ONE PARTITION: the union holds at most nq·(Bm25K + SemK) rows, so it
    * is placed in a single partition. The aggregate, and every window and
    * final `orderBy` a caller stacks on it ([[rrfFuse]],
    * [[collapseRankFrom]]), then plan with no exchange and no range
    * sample: the whole fusion tail is one stage. */
  private[graft] def rrfScores(lex: DataFrame, sem: DataFrame): DataFrame = {
    def arm(c: String) = coalesce(
      floor(lit(RrfScale) / (lit(RrfK) + col(c))).cast("long"), lit(0L))
    val none = lit(null).cast(LongType)
    lex.select(col("query_id"), col("doc_id"), col("lex_rnk"), none.as("sem_rnk"))
      .unionByName(sem.select(col("query_id"), col("doc_id"), none.as("lex_rnk"), col("sem_rnk")))
      .coalesce(1)
      .groupBy("query_id", "doc_id")
      .agg(max("lex_rnk").as("lex_rnk"), max("sem_rnk").as("sem_rnk"))
      .withColumn("rrf", arm("lex_rnk") + arm("sem_rnk"))
  }

  /** SQL mirror of [[rrfFuse]]: expects `lexk(query_id, doc_id, lex_rnk)`
    * and `semk(query_id, doc_id, sem_rnk)` CTEs in scope; ends with the
    * ranked `fr` CTE so eval entries (q118) can consume the fused list
    * without re-stating the arithmetic. */
  private val rrfFuseCtes: String =
    s"""fus AS (
       |  SELECT query_id, doc_id,
       |         COALESCE(CAST(floor($RrfScale / ($RrfK + lex_rnk)) AS BIGINT), 0)
       |       + COALESCE(CAST(floor($RrfScale / ($RrfK + sem_rnk)) AS BIGINT), 0) AS rrf,
       |         lex_rnk, sem_rnk
       |  FROM lexk FULL JOIN semk USING (query_id, doc_id)),
       |fr AS (
       |  SELECT query_id, doc_id, rrf, lex_rnk, sem_rnk,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
       |  FROM fus)""".stripMargin

  private val rrfSelect: String =
    s"""SELECT query_id, rnk, doc_id, rrf, lex_rnk, sem_rnk FROM fr
       |WHERE rnk <= $FusedK ORDER BY query_id, rnk""".stripMargin

  val q111Sql: String =
    s"""${TextOps.bm25RankCtes},
       |sem AS (
       |  ${Similarity.cosRankedSqlBody(TextOps.Bm25NQueries, SemK)}),
       |lexk AS (
       |  SELECT query_id, doc_id, rnk AS lex_rnk FROM lexr WHERE rnk <= ${TextOps.Bm25K}),
       |semk AS (
       |  SELECT query_id, neighbor_id AS doc_id, rn AS sem_rnk FROM sem),
       |$rrfFuseCtes
       |$rrfSelect""".stripMargin

  /** q116: the ANN-ARMED hybrid — [[q111HybridRrf]] with the semantic arm
    * SUBSTITUTED: q74/q110's IVF-PQ artifact-serving plan replaces the
    * brute cosine scan, proving the arm-substitutability claim the q111
    * scaladoc makes (only ranks cross [[rrfFuse]]'s interface) as a gated
    * entry rather than prose. This is the 100 TB serving shape: BOTH arms
    * now run from persisted-index plans (the lexical arm from q113's
    * artifact by the same seam), so nothing at serve time is corpus-linear
    * in float work — the IVF-PQ arm probes cells and sums 8 integer LUT
    * lookups per candidate where q111's exact arm dots every corpus
    * vector.
    *
    * Hashability: the fused score is the same integer arithmetic; the
    * IVF-PQ arm's rank list is q74's oracle-certified (adc_fixed ASC,
    * neighbor_id) order restricted to the fusion's query set
    * (Bm25NQueries ⊂ AdcQueries, so the oracle filters the shared `adc`
    * CTE — the candidate pipeline is byte-shared with q74/q86/q110). */
  def q116HybridRrfAnn(s: SparkSession, d: String): DataFrame = {
    val p = TextOps.bm25Parts(s, d)
    val lex = TextOps.bm25RankedFrom(p.tf, p.df, p.stats, p.qt)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val (emb, subs, seedsPq) = Similarity.pqParts(s, d)
    val (cents, books, codeTable) = Similarity.ivfPqIndex(emb, subs, seedsPq)
    val sem = Similarity.ivfPqSearchFrom(cents, books, codeTable,
        emb.filter(col("vec_id") < TextOps.Bm25NQueries).select("vec_id", "e"),
        k = SemK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn").as("sem_rnk"))
    rrfFuse(lex, sem)
  }

  /** q116's arm CTEs over the SHARED `adc` candidate chain (Bm25NQueries ⊂
    * AdcQueries, so the arm is a filter of q74's certified pipeline) —
    * also consumed by q118's eval. */
  private val annArmCtes: String =
    s"""lexk AS (
       |  SELECT query_id, doc_id, rnk AS lex_rnk FROM lexr WHERE rnk <= ${TextOps.Bm25K}),
       |semk AS (
       |  SELECT query_id, neighbor_id AS doc_id, rn AS sem_rnk FROM (
       |    SELECT query_id, neighbor_id,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |    FROM adc WHERE query_id < ${TextOps.Bm25NQueries})
       |  WHERE rn <= $SemK)""".stripMargin

  val q116Sql: String =
    s"""${TextOps.bm25RankCtes},
       |${Similarity.ivfPqAdcCtes.stripPrefix("WITH ")},
       |$annArmCtes,
       |$rrfFuseCtes
       |$rrfSelect""".stripMargin

  /** q112: CONJUNCTIVE KEYWORD SEARCH — boolean-AND retrieval over the
    * SAME inverted index q95 scores from (q95 is the disjunctive arm; most
    * serving stacks expose both): a doc matches iff it contains EVERY
    * query term, ranked by total matched term frequency.
    *
    * The AND is counting, not iterated intersection: one inverted-index
    * probe (tf ⋈ broadcast qt), one partial+final agg per (query, doc)
    * counting matched terms + summing tf, then a per-query filter
    * n_match = |query terms| against the broadcast per-query term count.
    * Integer arithmetic end-to-end — nothing to round.
    *
    * Scale shape: identical to q95's audited one — the corpus-sized side
    * (tf) is probed exactly once by the eval-set-sized qt broadcast; the
    * agg is keyed (query_id, doc_id); the n-match filter joins two
    * eval-sized frames. At 100 TB the selective term postings would come
    * from the q113 artifact instead of a rebuild — only `tf`'s origin
    * changes, by [[bm25RankedFrom]]'s same substitution seam. */
  def q112Conjunctive(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = TextOps.bm25Parts(s, d)
    val qn = p.qt.groupBy("query_id").agg(count(lit(1)).as("nt"))
    val w = Window.partitionBy("query_id").orderBy(col("tot_tf").desc, col("doc_id"))
    p.tf.join(broadcast(p.qt), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_match"), sum(col("tf")).as("tot_tf"))
      .join(broadcast(qn), Seq("query_id"))
      .filter(col("n_match") === col("nt"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= FusedK)
      .select("query_id", "rnk", "doc_id", "tot_tf")
      .orderBy("query_id", "rnk")
  }

  val q112Sql: String =
    s"""${TextOps.bm25BaseCtes},
       |qn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nt FROM qt GROUP BY query_id),
       |hits AS (
       |  SELECT qt.query_id, tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_match,
       |         CAST(SUM(tf.tf) AS BIGINT) AS tot_tf
       |  FROM tf JOIN qt USING (term)
       |  WHERE tf.doc_id <> qt.query_id
       |  GROUP BY qt.query_id, tf.doc_id)
       |SELECT query_id, rnk, doc_id, tot_tf FROM (
       |  SELECT h.query_id, h.doc_id, h.tot_tf,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY h.query_id
       |              ORDER BY h.tot_tf DESC, h.doc_id) AS BIGINT) AS rnk
       |  FROM hits h JOIN qn USING (query_id) WHERE h.n_match = qn.nt)
       |WHERE rnk <= $FusedK ORDER BY query_id, rnk""".stripMargin

  /** Persist a lexical index (tf postings + df + corpus stats) as ONE
    * IMMUTABLE SEGMENT of a parquet artifact — the Lucene/LSM shape: the
    * initial build is `seg0`, every [[lexIndexAppend]] a new segment, so
    * folding fresh documents is a pure O(fresh) write that never
    * read-modify-writes existing postings (no overwrite races, no base
    * rewrite — the property that makes the artifact appendable while
    * earlier still-lazy served frames keep reading their segments).
    * `dl` rides on the tf rows so serving needs no doc-length side table. */
  def lexIndexSegment(docs: DataFrame, path: String, seg: String): Unit = {
    // ONE tokenize+count pass instead of three (r19 guide §1.2): the three
    // files previously each re-ran the scan → spread → split → termCounts
    // lineage (tf directly, df through tf's plan, stats through docs').
    // tf is cached and written first; df folds from the cached tf; stats
    // is rebuilt from the distinct (doc_id, dl) carried on the tf rows —
    // the compactor's exact rebuild identity (every doc yields ≥ 1 posting
    // row, dl is per-doc constant), so all three files are value-identical
    // to lexIndexOf's. TextOps.indexTokens is the null policy both
    // builders share: a null token array would explode to ZERO tf rows.
    val tf = TextOps.termCounts(TextOps.indexTokens(docs)).cache()
    LexTf.write(tf, s"$path/$seg")
    LexDf.write(tf.groupBy("term").agg(count(lit(1)).as("df")), s"$path/$seg")
    LexStats.write(tf.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")), s"$path/$seg")
    // scoped release, NOT CacheBin (r19 ADVICE): all three consumers are
    // eager inside this function, so the cache has no consumer that
    // outlives it — registering it leaked one cached frame per streaming
    // micro-batch through DocStream.lexAppendBatch (no release on that
    // path), growing executor storage without bound on a long ingest.
    tf.unpersist(blocking = false)
  }

  /** The three file sets of a lexical-index segment, in the column order
    * [[lexIndexSegment]] writes them (the compactor writes the same
    * columns); serving and compaction read every segment under them. */
  private[graft] val LexTf = Artifacts.FileSet("tf", StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("term", StringType), StructField("tf", LongType))))
  private[graft] val LexDf = Artifacts.FileSet("df", StructType(Seq(
    StructField("term", StringType), StructField("df", LongType))))
  private[graft] val LexStats = Artifacts.FileSet("stats", StructType(Seq(
    StructField("n_docs", LongType), StructField("tot_dl", LongType),
    StructField("avgdl", DoubleType))))

  /** Fold freshly-arrived documents into a persisted lexical-index
    * artifact: write them as a new immutable segment. Cost is O(fresh) —
    * tokenize + count the fresh docs only; base postings are untouched. */
  def lexIndexAppend(s: SparkSession, path: String, freshDocs: DataFrame, seg: String): Unit =
    lexIndexSegment(freshDocs, path, seg)

  /** Open a segmented lexical-index artifact for serving, with its
    * tombstones applied. Postings are the union of segment scans (`doc_id`
    * spaces are disjoint by the append contract); the dictionary and
    * corpus stats fold across segments by EXACT ADDITIVE merges (the
    * reason `stats` persists `tot_dl`: Σ of segment long-sums ≡ the
    * single-pass sums, so merged df/avgdl are bit-identical to a full
    * rebuild's).
    *
    * Deletes stay exact under the same algebra, because the deleted docs'
    * own tf rows are still in the segments: tf' = tf ⟕̸ del (anti join);
    * df' = Σ over (segment df rows ∪ one (term, −1) per deleted posting),
    * dropping terms at 0; stats' = Σ over (segment stats rows ∪ one
    * (−1, −dl) per deleted doc), with avgdl re-derived from the corrected
    * longs — bit-identical to a rebuild over the remaining corpus (the
    * q126 oracle pins exactly that). Each correction is ONE aggregate over
    * a union, not a fold + a delta aggregate + a join. Tombstone doc_ids
    * need not all exist in the index, and duplicates are inert: the
    * delete set only feeds semi/anti joins.
    *
    * A root that carries tombstones is ALWAYS served corrected: ignoring
    * the tombstones dir would RESURRECT deleted docs — the one
    * inconsistency the delete contract cannot survive. Every file is read
    * under its declared schema, so building these frames runs no Spark
    * job. */
  def lexIndexServe(s: SparkSession, path: String): (DataFrame, DataFrame, DataFrame) =
    lexFold(s, Artifacts.requireSegments(s, path, "lexical-index"),
      Artifacts.DocTombstones.union(s, path))

  /** [[lexIndexServe]]'s frames over EXPLICIT segments and delete set —
    * also the compactor's merge. */
  private def lexFold(s: SparkSession, segs: Seq[String], dead: Option[DataFrame])
      : (DataFrame, DataFrame, DataFrame) = {
    val tf0 = LexTf.read(s, segs: _*)
    val df0 = LexDf.read(s, segs: _*)
    val st0 = LexStats.read(s, segs: _*).select("n_docs", "tot_dl")
    val (tf, dfRows, statRows) = dead match {
      case None => (tf0, df0, st0)
      case Some(del) =>
        val tfDel = tf0.join(del, Seq("doc_id"), "left_semi")
        (tf0.join(del, Seq("doc_id"), "left_anti"),
          df0.unionByName(tfDel.select(col("term"), lit(-1L).as("df"))),
          st0.unionByName(tfDel.select("doc_id", "dl").distinct()
            .select(lit(-1L).as("n_docs"), (-col("dl")).as("tot_dl"))))
    }
    // df > 0 only bites with deletes: segment df rows are ≥ 1. Likewise
    // n_docs reaches 0 only when every doc is deleted: avgdl is then null
    val df = dfRows.groupBy("term").agg(sum(col("df")).as("df")).filter(col("df") > 0)
    val stats = statRows
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))
      .select(col("n_docs"), col("tot_dl"), when(col("n_docs") > 0,
        col("tot_dl").cast("double") / col("n_docs")).as("avgdl"))
    (tf, df, stats)
  }

  /** LSM COMPACTION for the segmented lexical index: merge every segment
    * under `path` into a single `seg0` at `outPath` (copy-on-write — a new
    * root, never a rewrite of segments a concurrent serve may be reading;
    * [[maybeCompactLexVersioned]] stages it as the next version). The merge
    * is EXACT by the same additivity the serve-time fold relies on:
    * postings are disjoint per-doc rows (concat), df and n_docs/tot_dl are
    * long sums — so compacted ≡ segmented bit-for-bit (OperatorSpec gates
    * the ranked output through a 10-segment round trip). This is what
    * makes the LSM shape honest at a daily append cadence: without it the
    * serve-time df fold grows linear in segment count; after it the fold
    * is one segment again, with the artifact's history cost reset to
    * O(corpus) once instead of O(appends) forever.
    *
    * TOMBSTONES ARE APPLIED PHYSICALLY (the real LSM merge): the merged
    * files ARE the corrected serve frames ([[lexIndexServe]]'s fold —
    * deleted docs' tf/pp rows dropped, df/stats corrected exactly), and
    * the compacted root carries NO tombstones dir. Merely not copying the
    * tombstones while concat-folding postings would RESURRECT deleted
    * docs — the one inconsistency the delete contract cannot survive. */
  def lexIndexCompact(s: SparkSession, path: String, outPath: String): Unit = {
    require(outPath != path,
      "compaction is copy-on-write: outPath must be a new artifact root")
    val segs = Artifacts.requireSegments(s, path, "lexical-index")
    // validate the mixed-positional invariant BEFORE the first write: a
    // rejected compaction must leave NO artifact at outPath — a partial
    // seg0 (tf/df/stats but no pp) would be served position-less by
    // lexIndexServe with no error
    val withPp = segs.filter(LexPp.exists(s, _))
    require(withPp.isEmpty || withPp.size == segs.size,
      s"mixed positional artifact: ${withPp.size}/${segs.size} segments carry pp")
    val del = Artifacts.DocTombstones.union(s, path)
    val (tf, df, stats) = lexFold(s, segs, del)
    val seg0 = s"$outPath/seg0"
    LexTf.write(tf, seg0)
    LexDf.write(df, seg0)
    LexStats.write(stats, seg0)
    // positional postings (optional segment file) survive compaction:
    // concat-only fold (minus tombstoned docs), same disjoint-doc
    // algebra. Mixed artifacts failed loud above, before any write.
    if (withPp.nonEmpty) {
      val pp0 = LexPp.read(s, segs: _*)
      LexPp.write(del.map(pp0.join(_, Seq("doc_id"), "left_anti")).getOrElse(pp0), seg0)
    }
  }

  /** Segment count of a lexical-index artifact (0 when the root doesn't
    * exist yet) — the size-tier input to [[maybeCompactLexVersioned]]. */
  def lexSegmentCount(s: SparkSession, path: String): Int = Artifacts.segmentCount(s, path)

  /** SIZE-TIERED COMPACTION POLICY — the trigger [[lexIndexCompact]]
    * deliberately lacks: the kernel is a manual call, so without a policy a
    * long-running ingest degrades until an operator intervenes (the
    * measured cost: +75% serve latency at 10 segments, BASELINE.md
    * round-13/14 rows — this threshold check is that row turned into
    * code). Counts `seg*` dirs under the published root of `base`; at
    * ≤ `maxSegments` it is a metadata-only no-op. Past the threshold it
    * compacts the published root into the next version and publishes it
    * through [[RootPointer.maintain]]: readers resolve a published,
    * immutable root per serve and never observe the compaction, and
    * serve-after ≡ serve-before bit-for-bit by the compactor's exact
    * additive merge (gated in DocStreamSpec through a forced multi-batch
    * drain). Call it between ingest batches — the one-writer-per-base
    * contract. Returns true iff a compaction published. */
  def maybeCompactLexVersioned(s: SparkSession, base: String,
      maxSegments: Int): Boolean =
    Artifacts.compactOverTier(s, base, maxSegments)(lexIndexCompact(s, _, _))

  /** q113: BM25 SERVED FROM THE PERSISTED LEXICAL-INDEX ARTIFACT — q101's
    * recipe applied to the text family: the entry writes tf/df/stats via
    * [[lexIndexArtifact]], reads them back, and ranks with
    * [[bm25RankedFrom]] over the ROUND-TRIPPED frames under EXACTLY q95's
    * oracle. Any write/read/type drift in the artifact path — or any
    * divergence between served and self-contained scoring (the fixed-point
    * Robertson part is integer once floored; avgdl round-trips bit-exact
    * as a parquet double) — breaks the hash. Only the eval-query term
    * table is recomputed at serve time (eval-set-sized by construction).
    * PlanSpec pins that the served lineage contains NO tokenize/count
    * kernel (no array_sort sorted-run counter) and roots at the artifact
    * scan. Eager at construction (writes the artifact), like q101/q76. */
  def q113Bm25Served(s: SparkSession, d: String): DataFrame = {
    val path = s"${Artifacts.datasetScratch(d)}/lexindex"
    lexIndexSegment(TextOps.tokenizedDocs(s, d), path, "seg0")
    val (tf, df, stats) = lexIndexServe(s, path)
    TextOps.bm25RankedFrom(tf, df, stats, TextOps.queryTerms(s, d))
      .orderBy("query_id", "rnk")
  }

  /** q115: LEXICAL-INDEX APPEND — q106's freeze-and-fold contract applied
    * to the text family, with a stronger identity: where the kNN append
    * needed the top-k selection identity, the lexical index is EXACTLY
    * additive (postings are per-doc rows, df/n_docs/tot_dl are sums), so
    * segment-append ≡ full rebuild bit-for-bit with no approximation at
    * all. The corpus splits at cut = ⌊max(doc_id)·4/5⌋; the base 4/5
    * builds `seg0`, the held-out tail folds in through [[lexIndexAppend]]
    * (tokenize + count the FRESH docs only — base postings untouched),
    * and the serve-time merge ranks the eval queries under EXACTLY q95's
    * oracle (the full-corpus index): any drift in the segment write, the
    * glob union, the additive df fold, or the Σtot_dl/Σn_docs avgdl
    * breaks the hash. Eager at construction (writes both segments). */
  def q115LexAppend(s: SparkSession, d: String): DataFrame = {
    val path = s"${Artifacts.datasetScratch(d)}/lexappend"
    val docs = TextOps.tokenizedDocs(s, d)
    val cut = Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0) * 4 / 5
    // disjoint doc ranges into disjoint seg dirs — overlapped (guide §2.6)
    Par.jobs(
      () => lexIndexSegment(docs.filter(col("doc_id") <= cut), path, "seg0"),
      () => lexIndexAppend(s, path, docs.filter(col("doc_id") > cut), "seg1"))
    val (tf, df, stats) = lexIndexServe(s, path)
    TextOps.bm25RankedFrom(tf, df, stats, TextOps.queryTerms(s, d))
      .orderBy("query_id", "rnk")
  }

  /** Candidate-list size, selection count, and the fixed-point scale for
    * q114: with λ=0.5 the MMR objective λ·rel − (1−λ)·maxsim collapses to
    * (rel − maxsim)/2, so floor((rel − maxsim)·500000) is the λ-folded
    * 10⁶ fixed-point score. */
  private val MmrCandK = 10
  private[graft] val MmrSelK = 5

  /** q114: MMR-DIVERSIFIED RETRIEVAL (Carbonell & Goldstein's maximal
    * marginal relevance) — the reranking pass a RAG stack runs so the k
    * passages handed to the generator aren't k near-copies: greedily pick
    * argmax[λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)] for [[MmrSelK]] rounds
    * over the cosine top-[[MmrCandK]] candidates (q28's oracle-certified
    * arm).
    *
    * Greedy-but-distributed: the selection recursion is [[MmrSelK]]−1
    * chained DataFrame rounds (the q94 PageRank-rounds precedent — the
    * oracle mirrors them as chained CTEs), each an eval-set-sized
    * join/agg: maxsim(d) = MAX over the selected set of the candidate-
    * pairwise sim table, scored in 10⁶ fixed point, argmax by
    * (score DESC, doc_id) row_number. Nothing in the recursion touches
    * the corpus.
    *
    * Hashability: rel and sim are round-6 cosines (bitwise cross-engine,
    * the q28/q111 gate); the score is floor((rel−maxsim)·500000) — two
    * IEEE ops on bitwise-equal inputs, floored to BIGINT before any
    * comparison (memory discipline: round intermediates BEFORE composing).
    *
    * Scale shape: the corpus appears only in the two audited leaves — the
    * candidate arm (substitutable by any ANN arm: only ranks/sims cross
    * the interface) and one equi-join fetching the ≤ nq·k candidate
    * embeddings (broadcast-sized by construction). The pairwise sim table
    * is nq·k² rows — eval-sized, cached once, reread by every round. */
  def q114MmrDiversified(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    mmrSelect(
      Similarity.cosRanked(s, d, TextOps.Bm25NQueries, MmrCandK)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("cos_sim").as("rel")),
      Similarity.embWithNorm(s, d).select(col("vec_id"), col("e"), col("nrm")))
      .orderBy("query_id", "sel_rnk")
  }

  /** The greedy MMR selection recursion over ANY (query_id, doc_id,
    * rel: double) candidate frame and a (vec_id, e, nrm) vector source —
    * freshly exact (q114: rel = round-6 cosine, corpus embeddings) or
    * fully served (q147: rel = normalized fused RRF, vectors from the
    * persisted artifact); only candidate and vector rows cross the
    * interface, the [[rrfFuse]] substitution convention. Caller registers
    * the native vector functions. */
  private[graft] def mmrSelect(cand0: DataFrame, vecs: DataFrame): DataFrame = {
    val s = cand0.sparkSession
    import s.implicits._
    // rel and the pairwise sims are computed DISTRIBUTED, exactly as the
    // gated entries always did (the corpus appears only in these audited
    // leaves: the candidate arm and the one vector-fetch equi-join; sim is
    // the round-6 cosine from the native dot kernel)
    // SCOPED cache: the candidate arm (q147: the whole fused+collapsed
    // serve) has two eager consumers inside this function — the candRows
    // collect and the pairsim collect — and would otherwise compute twice.
    // Both consumers complete before the unpersist below, so this cache has
    // no lifecycle outside the call (unlike the old registered ones).
    val cand = cand0.cache()
    val ce = cand.select("query_id", "doc_id")
      .join(vecs, col("doc_id") === col("vec_id"))
      .select(col("query_id"), col("doc_id"), col("e"), col("nrm"))
    val a = ce.select(col("query_id"), col("doc_id").as("d1"), col("e").as("e1"), col("nrm").as("n1"))
    val b = ce.select(col("query_id").as("qb"), col("doc_id").as("d2"), col("e").as("e2"), col("nrm").as("n2"))
    val pairsim = a.join(b, col("query_id") === col("qb") && col("d1") =!= col("d2"))
      .select(col("query_id"), col("d1"), col("d2"),
        round(expr("graft_dot(e1, e2)") / (col("n1") * col("n2")), 6).as("sim"))
    // the greedy SELECTION runs on the driver over the collected decision
    // tables (r20, guide §1.2/§5): candidates are ≤ nq·k rows and sims
    // ≤ nq·k² — EVAL-sized constants of the entry, never corpus-sized, at
    // any corpus scale (the q63 cut-point / localTwoMeans metadata-on-the-
    // driver convention). The previous shape distributed the recursion as
    // MmrSelK−1 chained join+window rounds with a localCheckpoint barrier
    // per round — 4 extra driver-synchronous jobs plus two managed caches
    // per call, all to re-derive argmaxes over ≤ 4,500 rows (measured:
    // ~3.6 s of q147's wall, ~60% of q114's). The barriers also carried a
    // cache-lifecycle hazard over mutable artifact paths (the r19 mmr bug)
    // that a collect cannot have. Arithmetic is IDENTICAL IEEE ops on the
    // SAME collected values — floor((rel − maxsim)·500000) to BIGINT,
    // argmax by (score DESC, doc_id), round 1 by raw (rel DESC, doc_id) —
    // so selections are bit-equal to the oracle's chained-rounds form
    // (OperatorSpec's independent greedy differential pins it).
    val candRows = cand.select("query_id", "doc_id", "rel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val simRows = pairsim.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    cand.unpersist(blocking = false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    candRows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (q, cs) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      var selected = Vector.empty[Long]
      for (i <- 1 to MmrSelK) {
        // round 1: argmax by RAW (rel DESC, doc ASC) — the oracle's s1 order,
        // so two rels that floor to one score still pick the higher rel —
        // emitting mmr = floor(rel·500000); later rounds: only candidates
        // with a sim row to ≥ 1 selected doc participate (the chained form's
        // inner maxsim join), score = floor((rel − max sim)·500000), argmax
        // (score DESC, doc ASC)
        val pick: Option[(Long, Long)] =
          if (i == 1) {
            val (d, rv) = rel.minBy { case (d, rv) => (-rv, d) }
            Some(d -> math.floor(rv * 500000.0).toLong)
          } else (rel.keySet -- selected).toSeq.flatMap { d =>
            val sims = selected.flatMap(sd => simRows.get((q, d, sd)))
            if (sims.isEmpty) None
            else Some(d -> math.floor((rel(d) - sims.max) * 500000.0).toLong)
          }.minByOption { case (d, sc) => (-sc, d) }
        pick.foreach { case (doc, score) =>
          selected :+= doc
          out += ((q, i.toLong, doc, score))
        }
      }
    }
    // eval-sized literal result (LocalRelation — the q150/funnel audit-
    // frame convention); callers order/join it themselves
    out.toSeq.toDF("query_id", "sel_rnk", "doc_id", "mmr")
  }

  /** The MMR recursion as CTE text over ANY `cand(query_id, doc_id, rel)`
    * CTE — one parametrized formula shared by q114 (rel = exact cosine)
    * and q147 (rel = normalized fused RRF), so the greedy fixed-point
    * algebra can never drift between the gated entries. Produces
    * ce/ps/s1…s[[MmrSelK]]; the selected set is `s$MmrSelK`. */
  private def mmrCtesSql(candName: String): String = {
    val rounds = (2 to MmrSelK).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (
         |  SELECT c.query_id, c.doc_id,
         |         CAST(floor((c.rel - ms.maxsim) * 500000.0) AS BIGINT) AS score
         |  FROM $candName c
         |  JOIN (SELECT ps.query_id, ps.d1 AS doc_id, MAX(ps.sim) AS maxsim
         |        FROM ps JOIN s$p ON ps.query_id = s$p.query_id AND ps.d2 = s$p.doc_id
         |        GROUP BY ps.query_id, ps.d1) ms
         |    ON c.query_id = ms.query_id AND c.doc_id = ms.doc_id
         |  WHERE NOT EXISTS (SELECT 1 FROM s$p
         |                    WHERE s$p.query_id = c.query_id AND s$p.doc_id = c.doc_id)),
         |s$i AS MATERIALIZED (
         |  SELECT * FROM s$p UNION ALL
         |  SELECT query_id, doc_id, CAST($i AS BIGINT) AS sel_rnk, score AS mmr FROM (
         |    SELECT query_id, doc_id, score,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY score DESC, doc_id) AS rn
         |    FROM p$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""ce AS MATERIALIZED (
       |  SELECT c.query_id, c.doc_id, e.embedding FROM $candName c
       |  JOIN embeddings e ON c.doc_id = e.vec_id),
       |ps AS MATERIALIZED (
       |  SELECT a.query_id, a.doc_id AS d1, b.doc_id AS d2,
       |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                                      CAST(b.embedding AS DOUBLE[])), 6) AS sim
       |  FROM ce a JOIN ce b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
       |s1 AS MATERIALIZED (
       |  SELECT query_id, doc_id, CAST(1 AS BIGINT) AS sel_rnk,
       |         CAST(floor(rel * 500000.0) AS BIGINT) AS mmr FROM (
       |    SELECT query_id, doc_id, rel,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                ORDER BY rel DESC, doc_id) AS rn
       |    FROM $candName) WHERE rn = 1),
       |$rounds""".stripMargin
  }

  val q114Sql: String =
    s"""WITH cand AS (
       |  SELECT query_id, neighbor_id AS doc_id, cos_sim AS rel FROM (
       |    ${Similarity.cosRankedSqlBody(TextOps.Bm25NQueries, MmrCandK)})),
       |${mmrCtesSql("cand")}
       |SELECT query_id, sel_rnk, doc_id, mmr FROM s$MmrSelK ORDER BY query_id, sel_rnk""".stripMargin

  /** Phrase length for q117 — the eval phrases are each query document's
    * first [[PhraseLen]] tokens (deterministic, corpus-derived, the q95
    * query convention). */
  private val PhraseLen = 3

  /** q117: PHRASE SEARCH over POSITIONAL postings — the standard retrieval
    * operator q112's boolean-AND cannot express ("new york times" as a
    * phrase, not a bag): a document matches iff the phrase's terms occur
    * at CONSECUTIVE positions, ranked by occurrence count.
    *
    * The match is adjacent-position intersection INSIDE the posting
    * arrays — never a token-stream self-join (which would shuffle the
    * whole token stream once per phrase term at 100 TB): each phrase
    * term i's posting row joins the broadcast phrase-term table once,
    * its position array is shifted by −i map-side, and a per-(query, doc)
    * fold intersects the shifted arrays — occurrence starts are exactly
    * the positions surviving every intersection. The only corpus-sized
    * work is the ONE posting probe q112 already pays; the fold runs on
    * ≤ |phrase| arrays per (query, doc) pair.
    *
    * Integer end-to-end (positions, counts) — nothing to round. The
    * oracle states the same semantics relationally (per-start-position
    * COUNT(DISTINCT i) = |phrase| — naive token-level form is fine in
    * DuckDB at eval scale; the Spark side is the one that must not
    * self-join). */
  def q117PhraseSearch(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.tokenizedDocs(s, d)
    phraseRankFrom(TextOps.positionalPostings(docs), phraseTermsOf(docs))
  }

  /** The eval phrase-term table: (query_id, i, term) for each query doc's
    * first [[PhraseLen]] tokens — position index i is what the match
    * shifts by. */
  private[graft] def phraseTermsOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < TextOps.Bm25NQueries)
      .select(col("doc_id").as("query_id"),
        posexplode(slice(col("w"), 1, PhraseLen)).as(Seq("i", "term")))

  /** The phrase-match kernel over ANY positional-postings frame
    * (doc_id, term, positions) — freshly built (q117) or served from the
    * segmented artifact (q120); only postings rows cross this interface,
    * the [[rrfFuse]] substitution convention. */
  private[graft] def phraseRankFrom(pp: DataFrame, qp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("n_phrase").desc, col("doc_id"))
    pp.join(broadcast(qp), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("i"),
        expr("transform(positions, x -> x - i)").as("sp"))
      .groupBy("query_id", "doc_id")
      .agg(countDistinct(col("i")).as("nterms"),
        expr("array_sort(collect_list(struct(i, sp)))").as("arr"))
      .filter(col("nterms") === PhraseLen)
      .withColumn("n_phrase", expr(
        "CAST(size(aggregate(slice(arr, 2, size(arr) - 1), element_at(arr, 1).sp, " +
          "(acc, a) -> filter(acc, x -> array_contains(a.sp, x)))) AS BIGINT)"))
      .filter(col("n_phrase") >= 1)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= FusedK)
      .select("query_id", "rnk", "doc_id", "n_phrase")
      .orderBy("query_id", "rnk")
  }

  val q117Sql: String =
    s"""WITH dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |qp AS (
       |  SELECT doc_id AS query_id, CAST(i AS BIGINT) AS i,
       |         w[CAST(i + 1 AS INTEGER)] AS term
       |  FROM dw, LATERAL (SELECT unnest(range(0, $PhraseLen)) AS i)
       |  WHERE doc_id < ${TextOps.Bm25NQueries}),
       |tp AS (
       |  SELECT doc_id, w[CAST(p AS INTEGER)] AS term, CAST(p AS BIGINT) AS p
       |  FROM dw, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS p)),
       |st AS (
       |  SELECT qp.query_id, tp.doc_id, tp.p - qp.i AS strt
       |  FROM tp JOIN qp USING (term)
       |  WHERE tp.doc_id <> qp.query_id
       |  GROUP BY qp.query_id, tp.doc_id, tp.p - qp.i
       |  HAVING COUNT(DISTINCT qp.i) = $PhraseLen),
       |ph AS (
       |  SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_phrase
       |  FROM st GROUP BY query_id, doc_id)
       |SELECT query_id, rnk, doc_id, n_phrase FROM (
       |  SELECT query_id, doc_id, n_phrase,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY n_phrase DESC, doc_id) AS BIGINT) AS rnk
       |  FROM ph)
       |WHERE rnk <= $FusedK ORDER BY query_id, rnk""".stripMargin

  /** q118: FUSION QUALITY EVAL — q79's recall recipe applied to the hybrid
    * chain: for the ANN-armed fused top-k (q116's list — evaluating the
    * exact-armed q111 would be degenerate, its semantic arm IS the exact
    * list), per query: how many fused results came from each arm's top
    * list, and recall against the exact brute-force cosine top-[[FusedK]].
    * `exact_recall` is THE number a RAG operator tunes RrfK / nprobe
    * against — what the IVF-PQ approximation plus lexical fusion costs
    * versus exact dense retrieval.
    *
    * Scale shape: the fused list and both arm lists are eval-set-sized and
    * cached (each arm's plan is its audited serving shape); the exact side
    * is q28's corpus-linear scan — the eval is an offline audit pass, not
    * a serving path. Hashability: overlaps are integer flag sums on
    * oracle-certified rank lists; recall divides by the constant k (q79's
    * convention). */
  def q118FusionEval(s: SparkSession, d: String): DataFrame = {
    val p = TextOps.bm25Parts(s, d)
    val lex = TextOps.bm25RankedFrom(p.tf, p.df, p.stats, p.qt)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk")).cache()
    val (emb, subs, seedsPq) = Similarity.pqParts(s, d)
    val (cents, books, codeTable) = Similarity.ivfPqIndex(emb, subs, seedsPq)
    val sem = Similarity.ivfPqSearchFrom(cents, books, codeTable,
        emb.filter(col("vec_id") < TextOps.Bm25NQueries).select("vec_id", "e"),
        k = SemK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn").as("sem_rnk"))
      .cache()
    val fused = rrfFuse(lex, sem).select("query_id", "doc_id")
    val exact = Similarity.cosRanked(s, d, TextOps.Bm25NQueries, FusedK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), lit(1L).as("xh"))
    fused
      .join(lex.select(col("query_id"), col("doc_id"), lit(1L).as("lh")),
        Seq("query_id", "doc_id"), "left")
      .join(sem.select(col("query_id"), col("doc_id"), lit(1L).as("sh")),
        Seq("query_id", "doc_id"), "left")
      .join(exact, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_fused"),
        sum(coalesce(col("lh"), lit(0L))).as("lex_hits"),
        sum(coalesce(col("sh"), lit(0L))).as("sem_hits"),
        sum(coalesce(col("xh"), lit(0L))).as("exact_hits"),
        (sum(coalesce(col("xh"), lit(0L))).cast("double") / FusedK).as("exact_recall"))
      .orderBy("query_id")
  }

  val q118Sql: String =
    s"""${TextOps.bm25RankCtes},
       |${Similarity.ivfPqAdcCtes.stripPrefix("WITH ")},
       |$annArmCtes,
       |$rrfFuseCtes,
       |fk AS (SELECT query_id, doc_id FROM fr WHERE rnk <= $FusedK),
       |exk AS (
       |  SELECT query_id, neighbor_id AS doc_id FROM (
       |    ${Similarity.cosRankedSqlBody(TextOps.Bm25NQueries, FusedK)}))
       |SELECT f.query_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_fused,
       |       CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lex_hits,
       |       CAST(SUM(CASE WHEN sk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS sem_hits,
       |       CAST(SUM(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
       |       CAST(SUM(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $FusedK AS exact_recall
       |FROM fk f
       |LEFT JOIN lexk l ON f.query_id = l.query_id AND f.doc_id = l.doc_id
       |LEFT JOIN semk sk ON f.query_id = sk.query_id AND f.doc_id = sk.doc_id
       |LEFT JOIN exk x ON f.query_id = x.query_id AND f.doc_id = x.doc_id
       |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin

  /** Write a segment WITH positional postings — Lucene's optional
    * positions level (DOCS_AND_FREQS vs ..._AND_POSITIONS): `pp` is an
    * extra per-segment file alongside tf/df/stats, written only by
    * position-aware callers, so BM25-only artifacts (q113/q115 and their
    * anchors) pay nothing for a capability they don't serve. The pp file
    * obeys the same segment algebra trivially: per-(doc, term) rows with
    * disjoint doc_id spaces — the serve-time fold is pure concat, no sums
    * at all. */
  def lexIndexSegmentPos(docs: DataFrame, path: String, seg: String): Unit = {
    lexIndexSegment(docs, path, seg)
    LexPp.write(TextOps.positionalPostings(docs), s"$path/$seg")
  }

  /** The positional `pp` file set, in the column order
    * [[lexIndexSegmentPos]] writes it (the compactor writes the same
    * rows). */
  private[graft] val LexPp = Artifacts.FileSet("pp", StructType(Seq(
    StructField("doc_id", LongType), StructField("term", StringType),
    StructField("positions", ArrayType(IntegerType)))))

  /** Serve the positional postings of a segmented artifact (union of
    * per-segment pp scans — concat-only fold). Requires every segment to
    * carry positions (mixed artifacts would silently lose phrase recall
    * on the position-less segments — fail loud instead). */
  def lexIndexServePos(s: SparkSession, path: String): DataFrame = {
    val segs = Artifacts.requireSegments(s, path, "lexical-index")
    val missing = segs.filterNot(LexPp.exists(s, _))
    require(missing.isEmpty,
      s"segments without positional postings: $missing — a mixed artifact " +
        "would silently drop phrase matches; rebuild those segments with " +
        "lexIndexSegmentPos or compact")
    LexPp.read(s, segs: _*)
  }

  /** q120: PHRASE SEARCH SERVED FROM THE ARTIFACT — q113's recipe for the
    * positional family: two positional segments (the q115 base/tail split,
    * proving the append contract extends to positions), postings served by
    * concat fold, ranked by [[phraseRankFrom]] under EXACTLY q117's
    * oracle. Only the eval phrase-term table is computed at serve time;
    * PlanSpec pins that the served lineage contains NO positional-postings
    * kernel (no array_sort sorted-run counter) and reads both segments.
    * Eager at construction (writes the artifact), the q113/q115
    * convention. */
  def q120PhraseServed(s: SparkSession, d: String): DataFrame = {
    val path = s"${Artifacts.datasetScratch(d)}/lexpos"
    val docs = TextOps.tokenizedDocs(s, d)
    val cut = Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0) * 4 / 5
    // disjoint doc ranges into disjoint seg dirs — overlapped (guide §2.6)
    Par.jobs(
      () => lexIndexSegmentPos(docs.filter(col("doc_id") <= cut), path, "seg0"),
      () => lexIndexSegmentPos(docs.filter(col("doc_id") > cut), path, "seg1"))
    phraseRankFrom(lexIndexServePos(s, path), phraseTermsOf(docs))
  }

  /** Dirichlet prior for q119 (Zhai & Lafferty's standard μ). */
  private val QlMu = 2000L

  /** q119: QUERY-LIKELIHOOD RETRIEVAL (Dirichlet-smoothed language-model
    * ranking, Ponte & Croft / Zhai & Lafferty) — the third scoring family
    * next to BM25 (q95) and dense cosine (q28): rank docs by
    * Σ_{t∈q} (tf(t,d) + μ·P(t|C)) / (dl + μ), the SUM form of the QL
    * score (the standard log-product is replaced by the probability sum —
    * the documented portable variant, q95's log-drop convention).
    *
    * The sum form collapses by linearity:
    *   score = (Σ_matched tf + μ·Σ_{t∈q} P(t|C)) / (dl + μ)
    *         = (sum_tf·|C| + μ·sum_cf_q) / ((dl + μ)·|C|)
    * so smoothing — including every UNSEEN query term's contribution — is
    * EXACT INTEGER arithmetic (matched-tf sum, collection frequencies,
    * total token count) up to ONE double division, floored ·10⁹: the most
    * portable score in the retrieval family (BM25 needs a 6-op float
    * chain; this needs one correctly-rounded division on two BIGINTs).
    *
    * Candidate set = docs matching ≥ 1 query term (the standard inverted-
    * index approximation — a zero-match doc's rank depends only on dl;
    * documented variant). Scale shape: identical to q95/q112's audited
    * one — tf probed once by the broadcast query terms, cf is a
    * vocab-sized partial+final agg probed by the same broadcast, corpus
    * totals one row. */
  def q119QueryLikelihood(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = TextOps.bm25Parts(s, d)
    val cf = p.tf.groupBy("term").agg(sum(col("tf")).as("cf"))
    val qcf = p.qt.join(cf, Seq("term"))
      .groupBy("query_id").agg(sum(col("cf")).as("sum_cf_q"))
    val total = p.stats.select(col("tot_dl"))
    val w = Window.partitionBy("query_id").orderBy(col("ql_scaled").desc, col("doc_id"))
    p.tf.join(broadcast(p.qt), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("tf")).as("sum_tf"), max(col("dl")).as("dl"))
      .join(broadcast(qcf), Seq("query_id"))
      .crossJoin(broadcast(total))
      .withColumn("ql_scaled", expr(
        s"CAST(floor(CAST(sum_tf * tot_dl + $QlMu * sum_cf_q AS DOUBLE) " +
          s"/ CAST((dl + $QlMu) * tot_dl AS DOUBLE) * 1000000000.0D) AS BIGINT)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= FusedK)
      .select("query_id", "rnk", "doc_id", "ql_scaled")
      .orderBy("query_id", "rnk")
  }

  val q119Sql: String =
    s"""${TextOps.bm25BaseCtes},
       |cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
       |qcf AS (
       |  SELECT query_id, CAST(SUM(cf) AS BIGINT) AS sum_cf_q
       |  FROM qt JOIN cf USING (term) GROUP BY query_id),
       |tot AS (SELECT CAST(SUM(len(w)) AS BIGINT) AS tot_dl FROM dw),
       |m AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         CAST(SUM(tf.tf) AS BIGINT) AS sum_tf, MAX(tf.dl) AS dl
       |  FROM tf JOIN qt USING (term)
       |  WHERE tf.doc_id <> qt.query_id
       |  GROUP BY qt.query_id, tf.doc_id),
       |sc AS (
       |  SELECT m.query_id, m.doc_id,
       |         CAST(floor(CAST(m.sum_tf * tot.tot_dl + $QlMu * qcf.sum_cf_q AS DOUBLE)
       |              / CAST((m.dl + $QlMu) * tot.tot_dl AS DOUBLE) * 1000000000.0) AS BIGINT) AS ql_scaled
       |  FROM m JOIN qcf USING (query_id) CROSS JOIN tot)
       |SELECT query_id, rnk, doc_id, ql_scaled FROM (
       |  SELECT query_id, doc_id, ql_scaled,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY ql_scaled DESC, doc_id) AS BIGINT) AS rnk
       |  FROM sc)
       |WHERE rnk <= $FusedK ORDER BY query_id, rnk""".stripMargin

  /** Slop window for q121 (positions within ±[[ProxSlop]] tokens). */
  private val ProxSlop = 5

  /** q121: PROXIMITY SEARCH over positional postings — the slop relaxation
    * of q117's exact phrase ("terms near each other", Lucene's
    * `"a b"~slop`): each query is its document's first two tokens (kept
    * only when distinct — a degenerate one-term "pair" is excluded on both
    * engines), a document matches iff both terms occur with some position
    * pair within ±[[ProxSlop]], ranked by the NUMBER of such pairs.
    *
    * Same kernel discipline as q117: the match is computed INSIDE the two
    * posting arrays of one (query, doc) row pair — a per-doc
    * O(tf₁·tf₂) nested array fold, bounded by in-document term frequency,
    * NEVER a token-stream self-join (the oracle states the same count
    * relationally at eval scale; the Spark side is the one that must not
    * shuffle tokens). The only corpus-sized work is the single posting
    * probe by the broadcast query-pair table. Integer end-to-end. */
  def q121Proximity(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.tokenizedDocs(s, d)
    proximityRankFrom(TextOps.positionalPostings(docs), proxTermsOf(docs))
  }

  /** The eval pair-term table: (query_id, i ∈ {0,1}, term) from each query
    * doc's first two tokens; queries whose first two tokens are equal (or
    * that have fewer than two) are excluded — fixed positions, not
    * array_distinct, so both engines pick the identical pair. */
  private def proxTermsOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < TextOps.Bm25NQueries)
      .filter(size(col("w")) >= 2 &&
        element_at(col("w"), 1) =!= element_at(col("w"), 2))
      .select(col("doc_id").as("query_id"),
        posexplode(slice(col("w"), 1, 2)).as(Seq("i", "term")))

  /** The proximity-match kernel over ANY positional-postings frame — the
    * [[phraseRankFrom]] substitution convention (only postings rows cross
    * the interface, so a served-artifact variant slots in unchanged). */
  private def proximityRankFrom(pp: DataFrame, qp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("n_prox").desc, col("doc_id"))
    pp.join(broadcast(qp), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(countDistinct(col("i")).as("nterms"),
        expr("array_sort(collect_list(struct(i, positions)))").as("arr"))
      .filter(col("nterms") === 2)
      .withColumn("n_prox", expr(
        s"CAST(aggregate(element_at(arr, 1).positions, 0L, (acc, x) -> " +
          s"acc + size(filter(element_at(arr, 2).positions, " +
          s"y -> abs(y - x) <= $ProxSlop))) AS BIGINT)"))
      .filter(col("n_prox") >= 1)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= FusedK)
      .select("query_id", "rnk", "doc_id", "n_prox")
      .orderBy("query_id", "rnk")
  }

  val q121Sql: String =
    s"""WITH dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |qp AS (
       |  SELECT doc_id AS query_id, CAST(i AS BIGINT) AS i,
       |         w[CAST(i + 1 AS INTEGER)] AS term
       |  FROM dw, LATERAL (SELECT unnest(range(0, 2)) AS i)
       |  WHERE doc_id < ${TextOps.Bm25NQueries} AND len(w) >= 2 AND w[1] <> w[2]),
       |tp AS (
       |  SELECT doc_id, w[CAST(p AS INTEGER)] AS term, CAST(p AS BIGINT) AS p
       |  FROM dw, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS p)),
       |m AS (
       |  SELECT qp.query_id, tp.doc_id, qp.i, tp.p
       |  FROM tp JOIN qp USING (term) WHERE tp.doc_id <> qp.query_id),
       |pr AS (
       |  SELECT m1.query_id, m1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_prox
       |  FROM m m1 JOIN m m2
       |    ON m1.query_id = m2.query_id AND m1.doc_id = m2.doc_id
       |   AND m1.i = 0 AND m2.i = 1 AND abs(m1.p - m2.p) <= $ProxSlop
       |  GROUP BY m1.query_id, m1.doc_id)
       |SELECT query_id, rnk, doc_id, n_prox FROM (
       |  SELECT query_id, doc_id, n_prox,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY n_prox DESC, doc_id) AS BIGINT) AS rnk
       |  FROM pr)
       |WHERE rnk <= $FusedK ORDER BY query_id, rnk""".stripMargin

  /** Feedback-set size and expansion-term count for q122. */
  private val PrfFbDocs = 3
  private val PrfFbTerms = 5

  /** q122: PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (Rocchio / RM-style
    * PRF, the tf-weight variant) — the standard recall lever a retrieval
    * stack applies when eval queries are short: run BM25, take each
    * query's top-[[PrfFbDocs]] documents as the feedback set, extract the
    * top-[[PrfFbTerms]] terms by summed term frequency over that set
    * (excluding the query's own terms; ties by term ASC), union them into
    * the query's term set, and re-rank with the SAME scoring kernel.
    *
    * Both scoring passes are [[TextOps.bm25RankedFrom]] verbatim (the
    * Spark side) and one parametrized CTE text instantiated twice (the
    * oracle, [[TextOps.bm25ScoreCtes]]) — the no-drift seam: PRF adds no
    * new float arithmetic, only a second eval-set-sized term table.
    *
    * Scale shape: the feedback set is nq·[[PrfFbDocs]] rows; the
    * expansion agg probes the tf table by a broadcast of that set (never
    * the reverse) and windows nq-grouped term weights; the re-rank is
    * q95's audited probe shape with a slightly wider broadcast qt. Two
    * corpus passes total (the two tf probes) — the PRF contract, not an
    * artifact of the plan. */
  def q122PrfExpansion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = TextOps.bm25Parts(s, d)
    val fb = TextOps.bm25RankedFrom(p.tf, p.df, p.stats, p.qt)
      .filter(col("rnk") <= PrfFbDocs).select("query_id", "doc_id")
    val wEx = Window.partitionBy("query_id").orderBy(col("w_fb").desc, col("term"))
    val ex = p.tf.join(broadcast(fb), Seq("doc_id"))
      .groupBy("query_id", "term").agg(sum(col("tf")).as("w_fb"))
      .join(p.qt, Seq("query_id", "term"), "left_anti")
      .withColumn("ern", row_number().over(wEx))
      .filter(col("ern") <= PrfFbTerms)
      .select("query_id", "term")
    val qt2 = p.qt.select("query_id", "term").unionByName(ex)
    TextOps.bm25RankedFrom(p.tf, p.df, p.stats, qt2).orderBy("query_id", "rnk")
  }

  val q122Sql: String =
    s"""${TextOps.bm25RankCtes},
       |fb AS (SELECT query_id, doc_id FROM lexr WHERE rnk <= $PrfFbDocs),
       |exw AS (
       |  SELECT fb.query_id, tf.term, CAST(SUM(tf.tf) AS BIGINT) AS w_fb
       |  FROM tf JOIN fb ON tf.doc_id = fb.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM qt
       |                    WHERE qt.query_id = fb.query_id AND qt.term = tf.term)
       |  GROUP BY fb.query_id, tf.term),
       |exq AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                ORDER BY w_fb DESC, term) AS ern
       |    FROM exw) WHERE ern <= $PrfFbTerms),
       |qt2 AS (
       |  SELECT query_id, term FROM qt
       |  UNION ALL SELECT query_id, term FROM exq),
       |${TextOps.bm25ScoreCtes("qt2", "scored2", "lexr2")}
       |SELECT query_id, rnk, doc_id, score FROM lexr2
       |WHERE rnk <= ${TextOps.Bm25K} ORDER BY query_id, rnk""".stripMargin

  /** Snippet window length (tokens) and per-query candidate count for
    * q123. */
  private val SnipW = 8
  private val SnipDocs = 3

  /** q123: SNIPPET EXTRACTION — the passage-selection step between
    * retrieval and generation in a RAG stack: for each query's BM25
    * top-[[SnipDocs]] documents, find the [[SnipW]]-token window covering
    * the MOST DISTINCT query terms; emit its start position and coverage
    * (ties → smallest start). Candidate window starts are exactly the
    * matched positions (the classic pruning: a maximal window can always
    * be anchored at a match).
    *
    * Kernel: per (query, doc) — eval-sized by the candidate join — the
    * matched postings rows fold ENTIRELY inside array functions: starts =
    * sorted distinct matched positions, coverage(p) = count of posting
    * rows with a position in [p, p+W), argmax via array_max over
    * (n, −start) structs (struct ordering gives n DESC then start ASC).
    * O(matches²) per candidate doc, never a token shuffle; the corpus
    * appears only in the audited BM25 arm and the one posting probe. */
  def q123Snippet(s: SparkSession, d: String): DataFrame = {
    val p = TextOps.bm25Parts(s, d)
    val cand = TextOps.bm25RankedFrom(p.tf, p.df, p.stats, p.qt)
      .filter(col("rnk") <= SnipDocs).select("query_id", "doc_id")
    snippetFrom(TextOps.positionalPostings(p.docs), p.qt, cand)
      .orderBy("query_id", "doc_id")
  }

  /** The window-selection kernel over ANY positional-postings frame, an
    * eval-query term table, and a (query_id, doc_id) candidate set —
    * freshly tokenized (q123) or served from the segmented artifact's pp
    * (q147); only postings/candidate rows cross the interface. Candidate
    * docs containing NO query term emit no row — the caller decides the
    * no-match convention (q123's BM25 candidates always match; q147's
    * semantic-arm picks may not, and coalesce to an empty window). */
  private[graft] def snippetFrom(pp: DataFrame, qt: DataFrame,
      cand: DataFrame): DataFrame =
    pp.join(broadcast(qt), Seq("term"))
      .join(broadcast(cand), Seq("query_id", "doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(collect_list(struct(col("term"), col("positions"))).as("arr"))
      .withColumn("starts", expr(
        "array_sort(array_distinct(flatten(transform(arr, a -> a.positions))))"))
      .withColumn("best", expr(
        s"array_max(transform(starts, p -> struct(" +
          s"CAST(size(filter(arr, a -> exists(a.positions, " +
          s"x -> x >= p AND x < p + $SnipW))) AS BIGINT) AS n, -p AS negp)))"))
      .select(col("query_id"), col("doc_id"), col("best.n").as("n_window"),
        (-col("best.negp")).cast("long").as("best_start"))

  /** The snippet-window CTEs over ANY `(query_id, doc_id)` candidate CTE
    * — tp (token positions from dw), st (matched positions), wn (window
    * coverage per candidate start), bs (the argmax window per doc). One
    * parametrized text shared by q123 and q147, the [[mmrCtesSql]]
    * discipline. */
  private def snippetCtesSql(candName: String): String =
    s"""tp AS (
       |  SELECT doc_id, w[CAST(p AS INTEGER)] AS term, CAST(p AS BIGINT) AS p
       |  FROM dw, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS p)),
       |st AS MATERIALIZED (
       |  SELECT DISTINCT c.query_id, c.doc_id, tp.term, tp.p
       |  FROM tp
       |  JOIN qt ON tp.term = qt.term
       |  JOIN $candName c ON c.query_id = qt.query_id AND c.doc_id = tp.doc_id),
       |wn AS (
       |  SELECT s.query_id, s.doc_id, s.p AS strt,
       |         CAST(COUNT(DISTINCT m.term) AS BIGINT) AS n
       |  FROM (SELECT DISTINCT query_id, doc_id, p FROM st) s
       |  JOIN st m ON m.query_id = s.query_id AND m.doc_id = s.doc_id
       |            AND m.p >= s.p AND m.p < s.p + $SnipW
       |  GROUP BY s.query_id, s.doc_id, s.p),
       |bs AS (
       |  SELECT query_id, doc_id, n AS n_window, strt AS best_start FROM (
       |    SELECT query_id, doc_id, strt, n,
       |           ROW_NUMBER() OVER (PARTITION BY query_id, doc_id
       |                ORDER BY n DESC, strt) AS rn
       |    FROM wn)
       |  WHERE rn = 1)""".stripMargin

  val q123Sql: String =
    s"""${TextOps.bm25RankCtes},
       |cand AS (SELECT query_id, doc_id FROM lexr WHERE rnk <= $SnipDocs),
       |${snippetCtesSql("cand")}
       |SELECT query_id, doc_id, n_window, best_start FROM bs
       |ORDER BY query_id, doc_id""".stripMargin

  /** q124: CLUSTER-COLLAPSED RETRIEVAL — dedup meets serving: a ranked
    * list over a near-dup-heavy corpus hands the generator k copies of
    * one document (the retrieval-time face of the q108 leakage problem),
    * so collapse the BM25 scored list to ONE document per q53 near-dup
    * cluster (the gated connected components over the J ≥ 0.6 pair
    * graph; singletons key by their own doc_id) BEFORE the top-k: keep
    * each cluster's best (score DESC, doc_id ASC), then rank survivors.
    * Guarantees diversity by construction where q114's MMR trades it
    * against relevance.
    *
    * Scale shape: the scored list is [[TextOps.bm25ScoredFrom]] — q95's
    * audited probe — and the cluster map comes from q53's scale-audited
    * passes; their equi-join on doc_id is left to AQE (broadcast at eval
    * SF, sort-merge at corpus scale — the cluster map is corpus-sized in
    * the worst case, so it is NOT force-broadcast). The two windows run
    * on the matched eval-sized list. Oracle composes q53's closure CTEs
    * and q95's scoring CTEs verbatim, so neither definition can drift. */
  def q124ClusterCollapsed(s: SparkSession, d: String): DataFrame = {
    val p = TextOps.bm25Parts(s, d)
    collapseRankFrom(TextOps.bm25ScoredFrom(p.tf, p.df, p.stats, p.qt),
      Dedup.q53DedupClusters(s, d))
  }

  /** The collapse kernel over ANY (doc_id, cluster_id) label frame —
    * freshly clustered (q124) or served from the persisted artifact
    * (q128); only label rows cross the interface, the [[rrfFuse]]
    * substitution convention. Over [[rrfScores]]' one partition (q138,
    * q147) the two windows and the final order add no exchange; over a
    * BM25 scored list (q124/q128/q133) they partition as usual. */
  private[graft] def collapseRankFrom(scored: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = clusters.select(col("doc_id"), col("cluster_id").as("cid"))
    val wBest = Window.partitionBy("query_id", "ckey").orderBy(col("score").desc, col("doc_id"))
    val wRank = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    scored.join(cl, Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("cid"), col("doc_id")))
      .withColumn("brn", row_number().over(wBest)).filter(col("brn") === 1)
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= FusedK)
      .select("query_id", "rnk", "doc_id", "score", "ckey")
      .orderBy("query_id", "rnk")
  }

  /** q128: CLUSTER COLLAPSE SERVED FROM THE PERSISTED LABEL ARTIFACT —
    * the gate behind BASELINE.md round-14's q124 marginal-cost claim ("at
    * steady state the cluster map is an artifact"): q53's labels are
    * written once (the q108 split already persists the same map in
    * practice), and the collapse reads them back — the q101/q105/q113
    * recipe for the dedup family. Serve-time cost is the q95 scored pass
    * + one doc-keyed join: the cluster fixpoint runs at BUILD time only,
    * and PlanSpec pins the served lineage roots at the parquet scan with
    * NO RDD-backed cluster kernel. Under EXACTLY q124's oracle. Eager at
    * construction (writes the artifact), the q113/q115 convention. */
  def q128CollapseServed(s: SparkSession, d: String): DataFrame = {
    val root = Artifacts.datasetScratch(d)
    writeClusters(s, d, root)
    val p = TextOps.bm25Parts(s, d)
    collapseRankFrom(TextOps.bm25ScoredFrom(p.tf, p.df, p.stats, p.qt),
      RagClusters.read(s, root))
  }

  /** The persisted q53 label artifact, (doc_id, cluster_id) rows, in the
    * column order [[writeClusters]] writes them: the collapse input of
    * q128/q133/q138/q147. */
  private[graft] val RagClusters = Artifacts.FileSet("clusters", StructType(Seq(
    StructField("doc_id", LongType), StructField("cluster_id", LongType))))

  /** Build q53's cluster labels of `d` into `root`. */
  private[graft] def writeClusters(s: SparkSession, d: String, root: String): Unit =
    RagClusters.write(Dedup.q53DedupClusters(s, d), root)

  /** The collapse CTE tail shared by q124/q133/q138's oracles — ONE
    * parametrized text (the bm25ScoreCtes discipline: three verbatim
    * copies invited tie-break/K drift between the gated entries). The
    * scored CTE must expose (query_id, doc_id, score). */
  private def collapseCtesCore(scoredName: String): String =
    s"""coll AS (
       |  SELECT s.query_id, s.doc_id, s.score,
       |         COALESCE(cl.cluster_id, s.doc_id) AS ckey
       |  FROM $scoredName s LEFT JOIN cl ON s.doc_id = cl.doc_id),
       |best AS (
       |  SELECT query_id, doc_id, score, ckey,
       |         ROW_NUMBER() OVER (PARTITION BY query_id, ckey
       |              ORDER BY score DESC, doc_id) AS brn
       |  FROM coll),
       |rr AS (
       |  SELECT query_id, doc_id, score, ckey,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM best WHERE brn = 1)""".stripMargin

  private def collapseCtesTail(scoredName: String): String =
    s"""${collapseCtesCore(scoredName)}
       |SELECT query_id, rnk, doc_id, score, ckey FROM rr
       |WHERE rnk <= $FusedK ORDER BY query_id, rnk""".stripMargin

  val q124Sql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtesBody},
       |${TextOps.bm25RankCtes.stripPrefix("WITH ")},
       |${collapseCtesTail("scored")}""".stripMargin

  /** Edit-distance budget for q125 (classic unit-cost Levenshtein — both
    * engines' `levenshtein` computes the same integer). */
  private val FuzzyMaxEd = 1

  /** The radius-1 deletion neighborhood of a string column: the string
    * itself plus every single-character deletion — the SymSpell key set
    * (Garbe's symmetric-delete trick): lev(a, b) ≤ 1 ⟹ the two
    * neighborhoods intersect (substitution: both delete position i;
    * insertion/deletion: the shorter string is in both), so an equi-join
    * on deletion keys yields a complete, tiny candidate set and the exact
    * `levenshtein` verify runs on candidates only — never qterms × vocab. */
  private def delKeysExpr(c: String): String =
    s"array_distinct(concat(array($c), transform(sequence(1, length($c)), " +
      s"i -> concat(substring($c, 1, i - 1), substring($c, i + 1, length($c))))))"

  /** q125: FUZZY KEYWORD SEARCH — typo-tolerant retrieval (Lucene's fuzzy
    * query, ES `fuzziness: 1`): a document matches a query term if it
    * contains ANY vocabulary term within edit distance [[FuzzyMaxEd]],
    * ranked by the number of DISTINCT query terms matched (fuzzily or
    * exactly), ties by doc_id.
    *
    * Scale shape — the SymSpell two-phase kernel: (1) candidate
    * generation is an equi-join of the vocabulary's deletion keys
    * (generated MAP-SIDE, O(|vocab|·len) rows, never shuffled — the
    * broadcast is the eval-sized query-side key set) against the query
    * terms' keys; (2) the exact `levenshtein` verify runs on the
    * candidate pairs only. The naive alternative — qterms × vocab with a
    * distance predicate — is a full vocabulary edit-distance scan per
    * query term (the oracle states it that way, eval-scale only). The
    * doc probe is then q95's audited shape: tf probed once by the
    * broadcast (query term, matched term) table. Empty-string tokens are
    * excluded from both sides (fuzzy-matching a zero-length token is
    * meaningless; also keeps `sequence(1, length)` well-defined).
    * Integer end-to-end. */
  def q125FuzzySearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = TextOps.bm25Parts(s, d)
    val vdel = p.df.select("term").filter(length(col("term")) > 0)
      .select(col("term"), explode(expr(delKeysExpr("term"))).as("dk"))
    val qdel = p.qt.filter(length(col("term")) > 0)
      .select(col("query_id"), col("term").as("qterm"))
      .select(col("query_id"), col("qterm"), explode(expr(delKeysExpr("qterm"))).as("dk"))
    val cand = vdel.join(broadcast(qdel), Seq("dk"))
      .select("query_id", "qterm", "term").distinct()
      .filter(levenshtein(col("qterm"), col("term")) <= FuzzyMaxEd)
    val w = Window.partitionBy("query_id").orderBy(col("n_fuzzy").desc, col("doc_id"))
    p.tf.join(broadcast(cand), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(countDistinct(col("qterm")).as("n_fuzzy"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= FusedK)
      .select("query_id", "rnk", "doc_id", "n_fuzzy")
      .orderBy("query_id", "rnk")
  }

  val q125Sql: String =
    s"""${TextOps.bm25BaseCtes},
       |qv AS (
       |  SELECT q.query_id, q.term AS qterm, v.term
       |  FROM (SELECT query_id, term FROM qt WHERE length(term) > 0) q
       |  JOIN (SELECT term FROM df WHERE length(term) > 0) v
       |    ON levenshtein(q.term, v.term) <= $FuzzyMaxEd),
       |fz AS (
       |  SELECT qv.query_id, tf.doc_id,
       |         CAST(COUNT(DISTINCT qv.qterm) AS BIGINT) AS n_fuzzy
       |  FROM tf JOIN qv ON tf.term = qv.term
       |  WHERE tf.doc_id <> qv.query_id
       |  GROUP BY qv.query_id, tf.doc_id)
       |SELECT query_id, rnk, doc_id, n_fuzzy FROM (
       |  SELECT query_id, doc_id, n_fuzzy,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY n_fuzzy DESC, doc_id) AS BIGINT) AS rnk
       |  FROM fz)
       |WHERE rnk <= $FusedK ORDER BY query_id, rnk""".stripMargin

  /** Record deleted documents as a TOMBSTONE file under the artifact root
    * (`tombstones/<name>`, doc_id rows) — Lucene's live-docs shape: the
    * immutable segments are never rewritten by a delete; the tombstone is
    * its own tiny immutable write, so deletes compose with concurrent
    * serves and appends exactly like segments do. */
  def lexTombstone(ids: DataFrame, path: String, name: String): Unit =
    Artifacts.DocTombstones.write(ids, path, name)

  /** [[lexIndexServe]] under its former delete-aware name, which the
    * perfbench client still calls: every lexical serve applies the root's
    * tombstones. */
  def lexIndexServeDel(s: SparkSession, path: String): (DataFrame, DataFrame, DataFrame) =
    lexIndexServe(s, path)

  /** The q126 delete set: every non-query doc with doc_id ≡ 3 (mod 7) —
    * deterministic, ~14% of the corpus, never a query doc (so the eval
    * term table is identical before and after the delete). */
  private def tombstoneIds(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 === 3 &&
      col("doc_id") >= TextOps.Bm25NQueries).select("doc_id")

  /** q126: TOMBSTONE DELETES in the lexical LSM — the delete half of the
    * q115 append contract (an index you can only add to is not an index):
    * build seg0 over the full corpus, tombstone the delete set, and rank
    * the eval queries from [[lexIndexServe]]'s corrected frames under
    * the oracle of a FULL REBUILD OVER THE REMAINING CORPUS — any drift
    * in the anti-join, the df decrement (including the drop-at-zero), or
    * the recorrected avgdl longs breaks the hash. Segments stay
    * byte-immutable; the delete is one tiny tombstone write (Lucene's
    * live-docs discipline). Eager at construction, the q113/q115
    * convention. */
  def q126TombstoneServed(s: SparkSession, d: String): DataFrame = {
    val path = s"${Artifacts.datasetScratch(d)}/lextomb"
    val docs = TextOps.tokenizedDocs(s, d)
    lexIndexSegment(docs, path, "seg0")
    lexTombstone(tombstoneIds(docs), path, "t0")
    val (tf, df, stats) = lexIndexServe(s, path)
    TextOps.bm25RankedFrom(tf, df, stats, TextOps.queryTermsOf(docs))
      .orderBy("query_id", "rnk")
  }

  val q126Sql: String =
    s"""${TextOps.bm25BaseCtesFor(
        s" WHERE NOT (doc_id % 7 = 3 AND doc_id >= ${TextOps.Bm25NQueries})")},
       |${TextOps.bm25ScoreCtes("qt", "scored", "lexr")}
       |SELECT query_id, rnk, doc_id, score FROM lexr
       |WHERE rnk <= ${TextOps.Bm25K} ORDER BY query_id, rnk""".stripMargin

  /** q133: THE FULLY ARTIFACT-SERVED RETRIEVAL ENTRY — the serving loop
    * closed in ONE query where every seam was previously gated separately
    * (lexical q113, deletes q126, clusters q128): scoring, delete
    * corrections, AND the near-dup collapse all run from persisted
    * artifacts, with NO corpus-linear kernel at serve time. Build phase
    * (eager, the q113/q115 convention): one lexical segment over the full
    * corpus, the q126 tombstone set, and the q53 cluster-label artifact.
    * Serve phase: [[lexIndexServe]]'s corrected tf/df/stats →
    * [[TextOps.bm25ScoredFrom]] → [[collapseRankFrom]] over the
    * round-tripped label rows. This is the steady-state RAG shape q128
    * still fell short of (its scoring arm re-tokenized the corpus — the
    * round-14 finding #1): here the ONLY serve-time work besides artifact
    * scans is the eval-query term table (eval-set-sized by construction)
    * and the delete-correction joins, all computed FROM the artifact.
    *
    * Oracle: q124's collapse semantics with the scoring arm rebuilt over
    * the corpus MINUS the deleted docs (the q126 rebuild identity), and
    * the cluster map over the FULL corpus — labels are a build-time
    * artifact, so a delete does not re-cluster (a surviving near-dup of a
    * deleted doc still collapses under its original cluster key); the
    * delete set never includes query docs, so qt is unchanged. PlanSpec
    * pins the served lineage: no sorted-run tf counter (q113's pin), no
    * RDD-backed cluster kernel (q128's pin), scans rooted at the lexical
    * segments, the tombstone file, and the label artifact. */
  def q133RetrievalServed(s: SparkSession, d: String): DataFrame = {
    val path = s"${Artifacts.datasetScratch(d)}/servedfull"
    val clRoot = s"${Artifacts.datasetScratch(d)}/servedfull_clusters"
    val docs = TextOps.tokenizedDocs(s, d)
    // lexical family and cluster-label artifact are independent builds
    // over disjoint paths — overlapped (guide §2.6, Par scaladoc)
    Par.jobs(
      () => {
        lexIndexSegment(docs, path, "seg0")
        lexTombstone(tombstoneIds(docs), path, "t0")
      },
      () => writeClusters(s, d, clRoot))
    val (tf, df, stats) = lexIndexServe(s, path)
    collapseRankFrom(
      TextOps.bm25ScoredFrom(tf, df, stats, TextOps.queryTermsOf(docs)),
      RagClusters.read(s, clRoot))
  }

  val q133Sql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtesBody},
       |${TextOps.bm25BaseCtesFor(
        s" WHERE NOT (doc_id % 7 = 3 AND doc_id >= ${TextOps.Bm25NQueries})")
        .stripPrefix("WITH ")},
       |${TextOps.bm25ScoreCtes("qt", "scored", "lexr")},
       |${collapseCtesTail("scored")}""".stripMargin

  /** q138: THE END-TO-END RAG SERVE — every serving seam this engine has,
    * composed in ONE entry the way a production retrieval stack actually
    * runs: BOTH fusion arms artifact-served (lexical from the q113
    * segments WITH q126 tombstone corrections; semantic from the q74
    * IVF-PQ artifacts WITH q127 live-docs anti-join under the frozen
    * quantizer), reciprocal-rank fused (q111's integer kernel), and the
    * fused candidate list near-dup-collapsed against the persisted q53
    * label artifact (q124's semantics on the PRE-RANK fused scores — one
    * document per cluster BEFORE the final top-k). q133 closed the
    * lexical serving loop; this closes the hybrid one: at serve time
    * nothing is corpus-linear in float work and nothing re-tokenizes,
    * re-trains, or re-clusters — the eval-query term table, the query
    * LUTs, the delete-correction joins, and the collapse join are the
    * whole marginal cost.
    *
    * One ENTITY-level delete set (id ≡ 3 mod 7, id ≥ AdcQueries — never
    * a query) drives both surfaces: the lexical side serves rebuild-
    * equivalent corrections (the q126 exact-additive identity), the
    * vector side frozen-quantizer live-docs (the q127 contract — the
    * quantizer trained on the full corpus is NOT retrained by a delete),
    * and the oracle states exactly that asymmetry: bm25 CTEs over the
    * corpus minus the delete set, the adc chain over the FULL corpus
    * with the delete predicate applied before ranking.
    *
    * Scale shape: each arm is its audited serving plan and ends in its
    * own top-k, and the quantizer's one-row `cc`/`cs` broadcast aggregates
    * inside one partition. The fused list is at most nq·(Bm25K + SemK)
    * rows, so [[rrfScores]] places it in ONE partition: the fusion
    * aggregate, both collapse windows and the final order run in one stage
    * with no exchange and no range sample. The one doc-keyed label join
    * stays AQE-planned (the q124 convention; a broadcast at eval scale).
    * PlanSpec pins both shapes and 17 stages per serve. Eager at construction
    * (writes all three artifact families), the q113/q127/q128
    * convention — the bench prices the build; the serve marginal is the
    * BASELINE.md round-15 economics rows. */
  def q138RagServed(s: SparkSession, d: String): DataFrame = {
    val root = q138Root(d)
    val docs = TextOps.tokenizedDocs(s, d)
    val (emb, subs, seedsPq) = Similarity.pqParts(s, d)
    val (cents, books, codeTable) = Similarity.ivfPqIndex(emb, subs, seedsPq)
    // the three artifact FAMILIES are independent builds over disjoint
    // output paths — overlap them (guide §2.6, Par scaladoc): the lexical
    // segment, the IVF-PQ trio (+ its tombstones), and the q53 cluster
    // labeling (an iterative many-small-job kernel that previously held
    // every core hostage to its own barriers while the corpus-pass builds
    // waited behind it). Order WITHIN each family is preserved.
    Par.jobs(
      () => {
        lexIndexSegment(docs, s"$root/lex", "seg0")
        lexTombstone(docs.filter(col("doc_id") % 7 === 3 &&
          col("doc_id") >= Similarity.AdcQueries).select("doc_id"), s"$root/lex", "t0")
      },
      () => Similarity.writeIvfArtifacts(s"$root/ivf", cents, books, codeTable,
        "t0" -> emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= Similarity.AdcQueries)),
      () => writeClusters(s, d, root))
    q138Serve(s, d)
  }

  private def q138Root(d: String): String = s"${Artifacts.datasetScratch(d)}/ragserve"

  /** q138's serve frame over its ALREADY-BUILT artifacts — split out so
    * PlanSpec can price one serve request apart from the build. */
  private[graft] def q138Serve(s: SparkSession, d: String): DataFrame =
    ragServeFrom(s, d, q138Root(d))

  /** The hybrid serve over the artifact families under `root` (lexical
    * segments + tombstones, IVF-PQ trio + tombstones, cluster labels):
    * BM25 from the tombstone-corrected segments and IVF-PQ ADC over the
    * live codes for the eval queries, RRF-fused, collapsed one doc per
    * cluster. Shared by q138 and q147. */
  private def ragServeFrom(s: SparkSession, d: String, root: String): DataFrame = {
    val (tf, df, stats) = lexIndexServe(s, s"$root/lex")
    val lex = TextOps.bm25RankedFrom(tf, df, stats, TextOps.queryTerms(s, d))
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val sem = Similarity.IvfCodec.FlatPq.searchRoot(s, s"$root/ivf",
        Similarity.embWithNorm(s, d)
          .filter(col("vec_id") < TextOps.Bm25NQueries).select("vec_id", "e"),
        Similarity.IvfNProbe, SemK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn").as("sem_rnk"))
    collapseRankFrom(
      rrfScores(lex, sem).select(col("query_id"), col("doc_id"),
        col("rrf").as("score")),
      RagClusters.read(s, root))
  }

  lazy val q138Sql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtesBody},
       |${TextOps.bm25BaseCtesFor(
        s" WHERE NOT (doc_id % 7 = 3 AND doc_id >= ${Similarity.AdcQueries})")
        .stripPrefix("WITH ")},
       |${TextOps.bm25ScoreCtes("qt", "scored", "lexr")},
       |${Similarity.ivfPqAdcCtes.stripPrefix("WITH ")},
       |lexk AS (
       |  SELECT query_id, doc_id, rnk AS lex_rnk FROM lexr WHERE rnk <= ${TextOps.Bm25K}),
       |semk AS (
       |  SELECT query_id, neighbor_id AS doc_id, rn AS sem_rnk FROM (
       |    SELECT query_id, neighbor_id,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |    FROM adc WHERE query_id < ${TextOps.Bm25NQueries}
       |      AND NOT (neighbor_id % 7 = 3 AND neighbor_id >= ${Similarity.AdcQueries}))
       |  WHERE rn <= $SemK),
       |fus AS (
       |  SELECT query_id, doc_id,
       |         COALESCE(CAST(floor($RrfScale / ($RrfK + lex_rnk)) AS BIGINT), 0)
       |       + COALESCE(CAST(floor($RrfScale / ($RrfK + sem_rnk)) AS BIGINT), 0) AS score
       |  FROM lexk FULL JOIN semk USING (query_id, doc_id)),
       |${collapseCtesTail("fus")}""".stripMargin

  /** Normalization for q147's fused-score MMR relevance: the maximum
    * attainable RRF mass (both arms at rank 1 — 2·⌊RrfScale/(RrfK+1)⌋),
    * so rel lands in (0, 1] and is commensurable with the [−1, 1] cosine
    * the diversity term subtracts — the λ=0.5 balance q114's raw-cosine
    * rel gets for free. Integer constant, one exact double division per
    * candidate; both engines spell the same number. */
  private[graft] val MmrRelNorm: Long = 2L * (RrfScale / (RrfK + 1)).toLong

  /** q147: THE COMPLETE RAG SERVE — q138's doubly-artifact-served fusion
    * closed through the LAST two steps a production stack runs before the
    * generator sees text: MMR diversity re-rank (q114's greedy recursion,
    * rel = the fused RRF score normalized by [[MmrRelNorm]], pairwise
    * sims from the PERSISTED vector artifact) and snippet extraction
    * (q123's window kernel over the PERSISTED positional postings —
    * q120's artifact). Build phase (eager, the q138 convention): one
    * POSITIONAL lexical segment + the entity delete set + the q74 IVF-PQ
    * artifacts + the q53 label artifact + the raw-vector artifact. Serve
    * phase: every input is an artifact scan — corrected lexical frames,
    * live-docs ADC, label collapse, vector fetch for the ≤ nq·FusedK
    * candidates, positional probe for the ≤ nq·MmrSelK selected docs; the
    * eval-query term table is the only recompute (eval-sized). A selected
    * doc containing NO query term (a semantic-arm pick) coalesces to the
    * empty window (0, 0) — stated identically in the oracle.
    *
    * Oracle: q138's chain composed with [[mmrCtesSql]] and
    * [[snippetCtesSql]] — the collapse, the recursion, and the window
    * argmax are the SAME parametrized texts q124/q114/q123 gate, so no
    * step of the composition can drift from its standalone entry. */
  def q147RagFull(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val root = s"${Artifacts.datasetScratch(d)}/ragfull"
    val docs = TextOps.tokenizedDocs(s, d)
    val (emb, subs, seedsPq) = Similarity.pqParts(s, d)
    val (cents, books, codeTable) = Similarity.ivfPqIndex(emb, subs, seedsPq)
    // four independent artifact families over disjoint paths — overlapped
    // (guide §2.6, Par scaladoc; the q138 shape plus the raw-vector
    // artifact). Order WITHIN each family is preserved.
    Par.jobs(
      () => {
        lexIndexSegmentPos(docs, s"$root/lex", "seg0")
        lexTombstone(docs.filter(col("doc_id") % 7 === 3 &&
          col("doc_id") >= Similarity.AdcQueries).select("doc_id"), s"$root/lex", "t0")
      },
      () => Similarity.writeIvfArtifacts(s"$root/ivf", cents, books, codeTable,
        "t0" -> emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= Similarity.AdcQueries)),
      () => writeClusters(s, d, root),
      () => writeVecs(s, d, root))
    val fused = q147Fused(s, d)
    val sel = mmrSelect(
      fused.select(col("query_id"), col("doc_id"),
        (col("score").cast("double") / lit(MmrRelNorm.toDouble)).as("rel")),
      RagVecs.read(s, root))
    val snip = snippetFrom(lexIndexServePos(s, s"$root/lex"),
      TextOps.queryTermsOf(docs), sel.select("query_id", "doc_id"))
    sel.join(snip, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("sel_rnk"), col("doc_id"), col("mmr"),
        coalesce(col("n_window"), lit(0L)).as("n_window"),
        coalesce(col("best_start"), lit(0L)).as("best_start"))
      .orderBy("query_id", "sel_rnk")
  }

  /** q147's raw-vector artifact, (vec_id, e, nrm) rows in the column order
    * [[writeVecs]] writes them: the MMR pairwise sims read it. */
  private[graft] val RagVecs = Artifacts.FileSet("vecs", StructType(Seq(
    StructField("vec_id", LongType), StructField("e", ArrayType(DoubleType)),
    StructField("nrm", DoubleType))))

  private[graft] def writeVecs(s: SparkSession, d: String, root: String): Unit =
    RagVecs.write(Similarity.embWithNorm(s, d).select("vec_id", "e", "nrm"), root)

  /** q148: THE VERSIONED-ROOT SERVE, ORACLE-GATED — the catalog face of
    * [[RootPointer]]: the whole pointer lifecycle (stage → publish →
    * versioned maintenance → grace retirement → resolve) under EXACTLY
    * q95's oracle. Build: a two-segment lexical artifact (q115's 4/5 cut)
    * staged into the next version dir and published; then
    * [[maybeCompactLexVersioned]] acts (2 segments > the tier), staging
    * the compaction as a NEW published version; then the grace window
    * retires all but the last two roots. Serve: [[RootPointer.resolve]]
    * once, rank from whatever root the pointer names. The gate composes
    * three identities: the pointer must name the COMPACTED version (a stale resolve would
    * still hash-match only because compaction is exact — so the spec-side
    * pointer tests pin freshness), compaction ≡ segmented fold ≡ full
    * rebuild (the q115/compactor identities), and resolution must never
    * surface an incomplete root. Eager writes, the q113/q115 convention;
    * re-runs in one session stack further versions and retire the tail —
    * exactly a maintenance cadence. */
  def q148VersionedServed(s: SparkSession, d: String): DataFrame = {
    val base = s"${Artifacts.datasetScratch(d)}/lexver"
    val docs = TextOps.tokenizedDocs(s, d)
    val cut = Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0) * 4 / 5
    val v = RootPointer.nextVersion(s, base)
    // the two segments cover DISJOINT doc ranges into disjoint seg dirs of
    // an unpublished version — independent builds, overlapped (guide §2.6)
    Par.jobs(
      () => lexIndexSegment(docs.filter(col("doc_id") <= cut), s"$base/$v", "seg0"),
      () => lexIndexAppend(s, s"$base/$v", docs.filter(col("doc_id") > cut), "seg1"))
    RootPointer.publish(s, base, v)
    maybeCompactLexVersioned(s, base, maxSegments = 1)
    RootPointer.retireOld(s, base, keep = 2)
    val (tf, df, stats) = lexIndexServe(s, RootPointer.resolve(s, base))
    TextOps.bm25RankedFrom(tf, df, stats, TextOps.queryTermsOf(docs))
      .orderBy("query_id", "rnk")
  }

  /** q147's fused+collapsed SERVE frame read from the ALREADY-BUILT
    * artifacts under the entry's root — split out because the MMR
    * recursion's localCheckpoint REPLACES lineage with an eval-sized RDD
    * leaf, so the entry's final plan cannot witness the upstream artifact
    * walk; PlanSpec asserts it on this frame instead (the entry composes
    * exactly this value). Callers must have run the build phase first. */
  private[graft] def q147Fused(s: SparkSession, d: String): DataFrame =
    ragServeFrom(s, d, s"${Artifacts.datasetScratch(d)}/ragfull")


  lazy val q147Sql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtesBody},
       |${TextOps.bm25BaseCtesFor(
        s" WHERE NOT (doc_id % 7 = 3 AND doc_id >= ${Similarity.AdcQueries})")
        .stripPrefix("WITH ")},
       |${TextOps.bm25ScoreCtes("qt", "scored", "lexr")},
       |${Similarity.ivfPqAdcCtes.stripPrefix("WITH ")},
       |lexk AS (
       |  SELECT query_id, doc_id, rnk AS lex_rnk FROM lexr WHERE rnk <= ${TextOps.Bm25K}),
       |semk AS (
       |  SELECT query_id, neighbor_id AS doc_id, rn AS sem_rnk FROM (
       |    SELECT query_id, neighbor_id,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                ORDER BY adc_fixed, neighbor_id) AS BIGINT) AS rn
       |    FROM adc WHERE query_id < ${TextOps.Bm25NQueries}
       |      AND NOT (neighbor_id % 7 = 3 AND neighbor_id >= ${Similarity.AdcQueries}))
       |  WHERE rn <= $SemK),
       |fus AS (
       |  SELECT query_id, doc_id,
       |         COALESCE(CAST(floor($RrfScale / ($RrfK + lex_rnk)) AS BIGINT), 0)
       |       + COALESCE(CAST(floor($RrfScale / ($RrfK + sem_rnk)) AS BIGINT), 0) AS score
       |  FROM lexk FULL JOIN semk USING (query_id, doc_id)),
       |${collapseCtesCore("fus")},
       |cand AS MATERIALIZED (
       |  SELECT query_id, doc_id, CAST(score AS DOUBLE) / $MmrRelNorm.0 AS rel
       |  FROM rr WHERE rnk <= $FusedK),
       |${mmrCtesSql("cand")},
       |selq AS (SELECT query_id, doc_id FROM s$MmrSelK),
       |${snippetCtesSql("selq")}
       |SELECT m.query_id, m.sel_rnk, m.doc_id, m.mmr,
       |       CAST(COALESCE(b.n_window, 0) AS BIGINT) AS n_window,
       |       CAST(COALESCE(b.best_start, 0) AS BIGINT) AS best_start
       |FROM s$MmrSelK m LEFT JOIN bs b
       |  ON m.query_id = b.query_id AND m.doc_id = b.doc_id
       |ORDER BY m.query_id, m.sel_rnk""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q111_hybrid_rrf", q111HybridRrf _, Some(q111Sql)),
    ("q112_conjunctive", q112Conjunctive _, Some(q112Sql)),
    ("q113_bm25_served", q113Bm25Served _, Some(TextOps.q95Sql)),
    ("q114_mmr_diversified", q114MmrDiversified _, Some(q114Sql)),
    ("q115_lex_append", q115LexAppend _, Some(TextOps.q95Sql)),
    ("q116_hybrid_rrf_ann", q116HybridRrfAnn _, Some(q116Sql)),
    ("q117_phrase_search", q117PhraseSearch _, Some(q117Sql)),
    ("q118_fusion_eval", q118FusionEval _, Some(q118Sql)),
    ("q119_query_likelihood", q119QueryLikelihood _, Some(q119Sql)),
    ("q120_phrase_served", q120PhraseServed _, Some(q117Sql)),
    ("q121_proximity", q121Proximity _, Some(q121Sql)),
    ("q122_prf_expansion", q122PrfExpansion _, Some(q122Sql)),
    ("q123_snippet", q123Snippet _, Some(q123Sql)),
    ("q124_cluster_collapsed", q124ClusterCollapsed _, Some(q124Sql)),
    ("q125_fuzzy_search", q125FuzzySearch _, Some(q125Sql)),
    ("q126_tombstone_served", q126TombstoneServed _, Some(q126Sql)),
    // served ≡ self-clustered: gated against q124's own oracle through
    // the label-artifact round trip
    ("q128_collapse_served", q128CollapseServed _, Some(q124Sql)),
    ("q133_retrieval_served", q133RetrievalServed _, Some(q133Sql)),
    ("q138_rag_served", q138RagServed _, Some(q138Sql)),
    ("q147_rag_full", q147RagFull _, Some(q147Sql)),
    // the pointer lifecycle closes under q95's oracle: the resolved root
    // is the compacted version, and compacted ≡ segmented ≡ rebuild
    ("q148_versioned_served", q148VersionedServed _, Some(TextOps.q95Sql)),
  )
}
