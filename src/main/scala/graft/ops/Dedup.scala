package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import graft.Tables

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design: every variant blocks/buckets before comparing —
  *   - exact: hash groupBy (one shuffle on the fingerprint);
  *   - n-gram Jaccard: inverted-index join on shared shingles (never a
  *     cross join);
  *   - MinHash: 128 hashes → 32 bands × 4 rows; candidates only where a band
  *     collides (P[miss | J≥0.8] ≈ (1−0.8⁴)³² ≈ 5e−8), then exact-verified —
  *     so the output equals the exact-Jaccard oracle;
  *   - SimHash: 48 bits over trigram features, 4 bands × 12 bits; hamming ≤ 3
  *     ⇒ pigeonhole guarantees a band collision ⇒ EXACT recall, brute-force
  *     oracle;
  *   - embedding cosine: SRP-LSH multi-table bucket join + hamming-1
  *     multi-probe prefilter, exact-verified (thresholds sit in measured
  *     gaps of the data so double-rounding can never flip a pair).
  */
object Dedup {

  /** DEFAULT candidate-mass budget for every one-shot All-Pairs entry —
    * the round-16 verdict's demand made mechanical: the measured 1M
    * spill death (3.43B candidates, >79 GB shuffle spill, dead JVM ~30
    * minutes in) must be a refusal through the DEFAULT path, not only
    * for callers that opted into [[jaccardPairsBudgeted]]. The tier is
    * generous on purpose: the adversarial 100k corpus measures 62M
    * candidates hash-ordered (df-ordered lands near the true pair
    * count), so 256M clears every sane run by 4× while refusing the
    * 3.43B death mode 13× under its mass. Override per run with
    * `-Dgraft.pair.budget=N` or `SPARK_GRAFT_PAIR_BUDGET=N` (the
    * sysprop wins so in-JVM specs can exercise the default path's
    * refusal without forking). */
  private[graft] def defaultPairBudget: Long =
    sys.props.get("graft.pair.budget")
      .orElse(sys.env.get("SPARK_GRAFT_PAIR_BUDGET"))
      .map(_.toLong).getOrElse(256000000L)

  /** Raw word-trigram list of a `w: array<string>` column (duplicates kept)
    * — THE shingle definition, shared by the whole dedup family and the
    * repetition metric (TextOps.q50) so they can never diverge. */
  private[graft] val trigramExpr: String =
    "transform(sequence(1, size(w)-2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"

  /** documents → (doc_id, shingles) where shingles = distinct word trigrams.
    * The source is a single small parquet file (one input split) — without an
    * explicit repartition every downstream explode/join/agg would run in ONE
    * task; at 100 TB the source would arrive pre-split, but the repartition
    * is harmless there too (tiny shuffle, hash-spread by key). */
  private[graft] def shingleDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .withColumn("shingles", array_distinct(expr(trigramExpr)))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).cast("long").as("nsh"))

  private[ops] def shingled(s: SparkSession, d: String): DataFrame =
    shingleDocs(Tables.spread(s, Tables.documents(s, d), "doc_id"))

  // exact dedup: hash-groupBy on content. Output one row per distinct text
  // with the kept (minimum) id and the duplicate count.
  def q23DedupExact(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(md5(col("text")).as("fp"), col("keep_id"), col("n_dups"))
      .orderBy("fp")

  val q23Sql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY text ORDER BY fp""".stripMargin

  /** Exact pairwise n-gram Jaccard via prefix filtering (the All-Pairs /
    * PPJoin family). Under a global total order of shingle tokens (ascending
    * document frequency — see `jaccardPairs`), any pair with J ≥ t must
    * share a token inside both docs' (n − ⌈t·n⌉ + 1)-prefixes
    * — so only prefixes enter the inverted-index join, and a plain-token
    * match anywhere outside a prefix generates NO candidate. Combined with
    * the size-ratio filter (min(na,nb) ≥ t·max(na,nb), also implied by
    * J ≥ t), the candidate set shrinks from "every pair sharing any shingle"
    * to near the true result size; candidates are then exact-verified with a
    * full `array_intersect`, so the output equals brute force.
    *
    * Scale: prefix explode is map-side; the candidate join shuffles only
    * prefix tokens (~(1−t)·|tokens|); verification re-joins the per-doc
    * arrays on doc_id — all equi-joins, no n² stage anywhere.
    * jaccard = |∩| / (|A|+|B|−|∩|) in identical long → double arithmetic on
    * both engines. Hash collision caveat as elsewhere: two distinct shingles
    * at the same xxhash64 (P ≈ |vocab|²/2⁶⁴) — ignored. */
  private[ops] def exactJaccardPairs(s: SparkSession, d: String, threshold: Double): DataFrame =
    jaccardPairs(shingled(s, d), threshold)

  /** One-shot All-Pairs, GUARDED BY DEFAULT: every catalog caller
    * (q24/q42/q53/q61/q124/q128/q130, q34's mix, the q129 base build)
    * now pays one group-count probe and refuses past
    * [[defaultPairBudget]] instead of spilling to death — under budget
    * the plan below the probe is byte-identical to the unguarded run
    * (OperatorSpec pins row-for-row identity), so correctness is
    * untouched and only the death mode changes shape. Callers with a
    * deliberate budget go through [[jaccardPairsBudgeted]]. */
  private[graft] def jaccardPairs(shingledDocs: DataFrame, threshold: Double): DataFrame =
    jaccardPairsBudgeted(shingledDocs, threshold, defaultPairBudget)

  /** COLLISION COUNTS over a prefix/bucket key frame: the per-key counts
    * with n ≥ 2 — the only keys that can ever emit a pair. One group-count
    * subtree yields BOTH the candidate-mass upper bound (Σ C(n,2) — THE
    * number that predicts the blowup the round-16 1M diagnosis hit:
    * >79 GB of candidate-shuffle spill) AND the semi-join prefilter that
    * repays it: singleton keys (the vast majority on a real corpus) never
    * enter the pair join's shuffle at all. NOT cached and NOT probed
    * eagerly — both consumers live in ONE plan and share the group-count's
    * exchange (ReuseExchange), which is what removed the round-17
    * guard-probe premium (the eager `.head()` probe cost one extra job +
    * cache fill per entry: q25 0.78→1.80 s, q26 0.53→1.20 s). */
  private def collisionCounts(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)

  /** IN-PLAN BUDGET GATE: a one-row (ok: boolean) frame that RAISES with
    * the measured mass once the budget is exceeded — the refusal is part
    * of the query itself instead of an eager pre-job. Attached to the
    * pair join's INPUT via [[gatedBy]] (a one-row broadcast cross join,
    * the adjudicated scalar-attach convention), so the join's map stage
    * cannot start until the mass is known: past the budget the action
    * dies in the gate's group-count time, and NO candidate pair ever
    * shuffles — the same refusal-before-blowup contract as the round-17
    * eager probe, at zero extra jobs under budget. */
  private[graft] def budgetGate(massFrame: DataFrame, budget: Long,
      family: String, lever: String): DataFrame =
    massFrame.select(coalesce(
      assert_true(col("m") <= lit(budget),
        concat(lit(s"$BudgetSentinel $family candidate mass "), col("m"),
          lit(s" exceeds the budget $budget: " + lever))),
      lit(true)).as("ok"))

  /** Fixed marker embedded in every [[budgetGate]] raise so the catch side
    * cannot misclassify an unrelated exception (or a caller-supplied lever
    * string) that happens to contain prose like "exceeds the budget". */
  private[graft] val BudgetSentinel = "[graft.pair.budget]"

  /** Σ C(n,2) mass frame of a [[collisionCounts]] frame (one row, col m). */
  private def pairMassOf(cnt: DataFrame): DataFrame =
    cnt.agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("m"))

  /** Attach a [[budgetGate]] to a frame: rows flow only after the gate's
    * one broadcast row evaluated (i.e. after the mass check passed). */
  private[graft] def gatedBy(df: DataFrame, gate: DataFrame): DataFrame =
    df.crossJoin(broadcast(gate)).filter(col("ok")).drop("ok")

  /** True iff the throwable (or any cause) is a budget-gate refusal —
    * the catch-side of [[budgetGate]]: the raise surfaces at ACTION time
    * wrapped in Spark's job-failure exceptions, so catch sites match on
    * the message, not the type. */
  def budgetRefusal(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse(""))
      .find(_.contains(BudgetSentinel))

  /** One-shot All-Pairs with a SPILL-BUDGET REFUSAL — the guard the q53
    * 1M diagnosis prescribed (BASELINE.md round-16 addendum): on a
    * low-entropy corpus the prefix filter has no token rarity to select
    * on, the candidate shuffle explodes quadratically, and an unguarded
    * run dies hours in on disk instead of failing in seconds with a
    * number. Same semantics as [[jaccardPairs]] when under budget
    * (OperatorSpec pins row-for-row identity); past the budget it refuses
    * LOUDLY with the measured mass and the prescriptions (the
    * split step's refusal discipline applied to the dedup family):
    * collapse exact dups first (q42), go incremental (q129 — never
    * regenerates existing×existing), or raise the budget knowingly.
    * The guard is IN-PLAN (round-17 verdict's top demand — the eager
    * probe job cost ~2× on small entries): the collision group-count
    * gates the self-join via [[budgetGate]] at zero extra jobs, and its
    * n ≥ 2 keys prefilter the join — singleton prefix tokens, most of
    * the index, never shuffle into it. Refusal now surfaces at ACTION
    * time (catch with [[budgetRefusal]]), still before any candidate
    * pair materializes. */
  def jaccardPairsBudgeted(shingledDocs: DataFrame, threshold: Double,
      maxCandidatePairs: Long): DataFrame = {
    require(maxCandidatePairs >= 1,
      s"maxCandidatePairs must be >= 1, got $maxCandidatePairs")
    val (docs, prefix) = rankedDocsAndPrefix(shingledDocs, threshold)
    val cnt = collisionCounts(prefix, Seq("shh"))
    val gate = budgetGate(pairMassOf(cnt), maxCandidatePairs, "All-Pairs",
      "the prefix filter has too little selectivity on this corpus " +
        "(low-entropy vocabulary or extreme duplication). Collapse exact " +
        "duplicates first (collapsedJaccardPairs / q42), fold batches " +
        "incrementally (incrementalFrom / q129), or raise the budget " +
        "(-Dgraft.pair.budget / SPARK_GRAFT_PAIR_BUDGET) if this many " +
        "candidate verifications are intended.")
    // one-sided gate, no semi prefilter — the champion shape from the
    // round-18 variant sweep (the semi chain serializes an extra shuffle
    // of the prefix index in front of the join; measured as the q24
    // family's 1.4-1.6x code-attributable premium in the first r18 bench)
    val gated = gatedBy(prefix, gate)
    val candidates = gated.as("a").join(prefix.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.nsh"), col("b.nsh")).cast("double") >=
            greatest(col("a.nsh"), col("b.nsh")) * threshold)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyPairs(docs, candidates, threshold)
  }

  /** Shared All-Pairs scaffolding: df-rank-sorted hash arrays (`docs`) and
    * the exploded prefix index (`prefix`) both the symmetric and the
    * incremental entry points join on. */
  private def rankedDocsAndPrefix(shingledDocs: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    // Global token order = ascending (document frequency, hash): the prefix
    // of every doc then holds its RAREST shingles. Any consistent total
    // order is correct; this one is what makes All-Pairs survive real
    // corpora — boilerplate shingles shared by thousands of docs sort into
    // suffixes and never enter the index. Measured on a 100k-doc corpus with
    // heavy duplication: hash-ordered prefixes → 62M candidate pairs;
    // df-ordered → near the true pair count.
    //
    // Because only the order has to be consistent — exact df values are a
    // performance heuristic, not a correctness input — it suffices to know
    // the df of the HEAVY tokens (the ones that would flood the index) and
    // leave every rare token at df=1 in hash order. So: count token df on a
    // deterministic 1-in-4 doc sample (hash of doc_id — heavy tokens are
    // exactly what a sample sees; a df-4σ miss just moves a token's slot in
    // an arbitrary-but-consistent order), scale counts back up, keep
    // df ≥ cutoff capped at the top 1M, broadcast as two sorted primitive
    // arrays, and sort each doc's array in place with a codegen'd native
    // expression. No join, no re-agg, no full-corpus token shuffle: the
    // sampled count is the only action, its input 1/4 (at 100 TB: 1/1000)
    // of the corpus.
    val hashed = shingledDocs.select(col("doc_id"),
      expr("transform(shingles, x -> xxhash64(x))").as("hs0")).cache()
    CacheBin.note(hashed)
    val btable = dfRankTable(hashed)
    val docs = CacheBin.note(rankDocs(hashed, btable).cache())
    val prefix = docs.select(col("doc_id"), col("nsh"),
      explode(prefixSliceExpr(threshold)).as("shh"))
    (docs, prefix)
  }

  /** (doc_id, hs0) → (doc_id, hs df-rank-sorted, nsh). Pure map-side given
    * the broadcast rank table, so also valid on a STREAMING frame
    * (DocStream builds fresh-batch prefixes with the static corpus's
    * table — any consistent total order preserves prefix containment).
    * `carry` columns (e.g. the stream's event-time) pass through untouched. */
  private[graft] def rankDocs(hashed: DataFrame,
      btable: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])],
      carry: Seq[String] = Nil): DataFrame =
    hashed
      .select((col("doc_id") +: carry.map(col)) :+
        graft.functions.RankSort.sortByDfRank(col("hs0"), btable).as("hs"): _*)
      .withColumn("nsh", size(col("hs")).cast("long"))

  // prefix length n − ⌈t·n⌉ + 1; the 1e-9 nudge keeps FP ceil from landing
  // ABOVE the true integer (0.6*5 = 3.0000000000000004 → ceil 4 would
  // shorten the prefix and silently lose recall)
  private[graft] def prefixSliceExpr(threshold: Double): org.apache.spark.sql.Column =
    expr(s"slice(hs, 1, cast(nsh - ceil(nsh * $threshold - 1e-9) + 1 as int))")

  /** documents → (doc_id, hs0 = xxhash64'd distinct trigram shingles); the
    * map-side head of the All-Pairs pipeline, streaming-safe. `carry`
    * columns pass through untouched. */
  private[graft] def hashShingles(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs
      .select((col("doc_id") +: carry.map(col)) :+ split(col("text"), " ").as("w"): _*)
      .filter(size(col("w")) >= 3)
      .withColumn("shingles", array_distinct(expr(trigramExpr)))
      .select((col("doc_id") +: carry.map(col)) :+
        expr("transform(shingles, x -> xxhash64(x))").as("hs0"): _*)

  /** The sampled-df broadcast rank table alone, for callers that rank a
    * different frame than the one the order was estimated on.
    *
    * Cutoff: estimated df ≥ 4 — at 1-in-4 sampling that keeps EVERY sampled
    * token, mid-frequency ones included, and that is deliberate: prefix
    * containment lives or dies on tokens with df 4–16 (measured on the
    * 100k-doc near-dup corpus: est-df≥4 ordering ≈ the exact-count baseline
    * at ~80 s; demanding 2 sample hits → est df ≥ 8 drops half of the df
    * 4–8 band and blows the same run up to 262 s). The broadcast table is
    * bounded by the 1M cap, and a df-1-in-sample token ordered as df-4 is
    * harmless — order quality, not set membership, is what the prefix
    * filter consumes. At 100 TB (1-in-1000 sampling) the same rule reads
    * "est df ≥ 1000": a token must be heavy enough to matter at THAT corpus
    * size before its order matters, which is the right asymptotic. */
  private[graft] def dfRankTable(hashed: DataFrame)
      : org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])] =
    hashed.sparkSession.sparkContext.broadcast(
      graft.functions.RankSort.buildTable(dfRankPairs(hashed)))

  /** The raw (token hash, estimated df) pairs behind [[dfRankTable]] —
    * the persistable form ([[containmentArtifactBuild]] writes exactly
    * these beside the segments, so a later ingest ranks with the SAME
    * order the corpus was indexed under). */
  private[graft] def dfRankPairs(hashed: DataFrame): Array[(Long, Long)] = {
    val sampleMod = 4
    hashed
      .filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
      .select(explode(col("hs0")).as("shh"))
      .groupBy("shh").agg((count(lit(1)) * sampleMod).as("df"))
      .filter(col("df") >= 4)
      .orderBy(desc("df"), col("shh")).limit(1 << 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
  }

  /** Exact verification of candidate (a_id, b_id) pairs against the full
    * hash arrays — shared tail of the symmetric and incremental paths. */
  private def verifyPairs(docs: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val da = docs.select(col("doc_id").as("a_id"), col("hs").as("ha"), col("nsh").as("na"))
    val db = docs.select(col("doc_id").as("b_id"), col("hs").as("hb"), col("nsh").as("nb"))
    candidates.join(da, "a_id").join(db, "b_id")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Incremental near-dup detection — dedup a FRESH batch against a corpus
    * without re-comparing existing×existing: the only formulation that
    * works on a growing 100 TB corpus, where full-corpus re-dedup per
    * ingest batch is quadratic over time. The All-Pairs index is built over
    * existing ∪ fresh (same df-ranked prefix machinery as [[jaccardPairs]]),
    * but only FRESH docs' prefixes probe it — a qualifying pair shares a
    * prefix token on BOTH sides, so probing one side finds every pair that
    * touches the fresh batch and provably none that doesn't. Output: all
    * J ≥ t pairs with ≥1 fresh member, canonicalized (a_id < b_id) — equal
    * by construction to `jaccardPairs(all)` filtered to those pairs
    * (differential-tested in OperatorSpec). In steady state the ranked hash
    * arrays of the existing corpus are a persisted artifact — that entry
    * point is [[corpusArtifact]] + [[incrementalFrom]]; here they are
    * recomputed so the catalog query stands alone. */
  private[graft] def incrementalJaccardPairs(shingledAll: DataFrame,
      freshIds: DataFrame, threshold: Double): DataFrame = {
    val (docs, prefix) = rankedDocsAndPrefix(shingledAll, threshold)
    val freshPrefix = prefix.join(freshIds, Seq("doc_id"), "left_semi")
    val candidates = prefix.as("a").join(freshPrefix.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") =!= col("b.doc_id") &&
          least(col("a.nsh"), col("b.nsh")).cast("double") >=
            greatest(col("a.nsh"), col("b.nsh")) * threshold)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
    verifyPairs(docs, candidates, threshold)
  }

  /** The persisted-corpus artifacts the steady-state ingest keeps between
    * batches: the df-ranked hash arrays (one row per corpus doc — write to
    * parquet once per snapshot) and the broadcast rank table they were
    * ranked with (two primitive arrays — persist beside the table). Build
    * once; every subsequent batch goes through [[incrementalFrom]] without
    * touching corpus text again. */
  def corpusArtifact(corpusDocs: DataFrame)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])]) = {
    val hashed = hashShingles(corpusDocs)
    val btable = dfRankTable(hashed)
    (rankDocs(hashed, btable), btable)
  }

  /** Artifact-mode incremental dedup — the steady-state 100 TB entry point
    * (the q70 catalog query recomputes the corpus side only because every
    * catalog entry must stand alone; a real pipeline runs THIS). The corpus
    * arrives pre-ranked from [[corpusArtifact]]; the fresh batch is ranked
    * with the SAME persisted table — tokens the corpus never saw rank as
    * rare in hash order, and since BOTH sides use one consistent total
    * order, All-Pairs prefix containment holds (the DocStream argument).
    * Fresh prefixes probe corpus ∪ fresh (so fresh×fresh pairs surface
    * too); output = every J ≥ t pair with ≥1 fresh member, equal BY SET to
    * `incrementalJaccardPairs` over the combined corpus even though the two
    * rank by different df tables — exactness needs only consistency, and
    * the OperatorSpec differential pins exactly that through a parquet
    * round-trip of the artifact. */
  def incrementalFrom(corpusRanked: DataFrame,
      btable: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])],
      freshDocs: DataFrame, threshold: Double): DataFrame = {
    val freshRanked = rankDocs(hashShingles(freshDocs), btable)
    val docs = corpusRanked.select("doc_id", "hs", "nsh")
      .unionByName(freshRanked.select("doc_id", "hs", "nsh"))
    val prefix = docs.select(col("doc_id"), col("nsh"),
      explode(prefixSliceExpr(threshold)).as("shh"))
    val freshPrefix = freshRanked.select(col("doc_id"), col("nsh"),
      explode(prefixSliceExpr(threshold)).as("shh"))
    val candidates = prefix.as("a").join(freshPrefix.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") =!= col("b.doc_id") &&
          least(col("a.nsh"), col("b.nsh")).cast("double") >=
            greatest(col("a.nsh"), col("b.nsh")) * threshold)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
    verifyPairs(docs, candidates, threshold)
  }

  /** q70: the incremental path as a catalog entry — the steady-state ingest
    * story at 100 TB, where a growing corpus is deduped one fresh batch at a
    * time and existing×existing pairs are NEVER re-compared. Fresh batch =
    * doc_id % 5 == 0 (the DocStream convention); output = every J ≥ 0.6
    * pair with at least one fresh member, which the oracle expresses as the
    * full-corpus pair query restricted by the same predicate — so the gate
    * checks the one-sided probe loses nothing and adds nothing. The probe
    * side is a left-semi on fresh ids (PlanSpec); everything else is the
    * q24 machinery unchanged. */
  def q70DedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, d), "doc_id")
    val freshIds = docs.select("doc_id").filter(col("doc_id") % 5 === 0)
    incrementalJaccardPairs(shingleDocs(docs), freshIds, 0.6)
  }

  /** Exact-duplicate collapse around the pair join. Real corpora (and every
    * dedup workload by definition) carry clusters of byte-identical texts;
    * identical shingle sets make prefix filtering powerless — cluster
    * members share every prefix token, so a 20-member cluster alone emits
    * C(20,2)·|prefix| join rows. Collapsing identical TEXTS to one
    * representative before shingling (a plain groupBy on text — the same
    * shuffle q23 does) keeps duplicates out of shingling, df-counting and
    * the pair join entirely; afterwards expand: intra-cluster pairs have
    * J = 1 exactly, and a cross-cluster member pair inherits its
    * representatives' jaccard (identical texts ⇒ identical shingle sets ⇒
    * identical intersections). Near-identical-but-not-equal texts still go
    * through the full prefix-filter path — exactness is untouched.
    *
    * Not wired into q24: at bench scale the extra aggregation stage and
    * expansion joins cost more than the testdata's 8 duplicate texts save
    * (~+5 s at sf0.1), and mutated near-dup corpora get nothing from it.
    * At 100 TB crawl scale, where 20–40% of documents are byte-identical,
    * run THIS entry point: the pair join then only sees distinct texts. */
  private[graft] def collapsedJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // same eligibility rule as shingleDocs: docs under 3 words have no
    // trigram shingles and must not surface in the output, even as exact
    // duplicates of each other
    val grp = docs
      .filter(size(split(col("text"), " ")) >= 3)
      .groupBy("text")
      .agg(min(col("doc_id")).as("gid"), collect_list(col("doc_id")).as("members"))
      .cache()
    CacheBin.note(grp)
    // re-spread the representatives: AQE coalesces the text-groupBy output
    // to one partition at small sizes, which would serialize the whole
    // shingle→df-sort→prefix chain into a single task (measured 3.2 s → 1.1 s
    // for the rep pair stage at sf0.1)
    val reps = Tables.spread(docs.sparkSession,
      grp.select(col("gid").as("doc_id"), col("text")), "doc_id")
    val repPairs = jaccardPairs(shingleDocs(reps), threshold)
    val mem = grp.select(col("gid"), explode(col("members")).as("m"))
    val intra = mem.as("x").join(mem.as("y"),
        col("x.gid") === col("y.gid") && col("x.m") < col("y.m"))
      .select(col("x.m").as("a_id"), col("y.m").as("b_id"),
        lit(1.0).as("jaccard"))
    val inter = repPairs
      .join(grp.select(col("gid").as("a_id"), col("members").as("ma")), "a_id")
      .join(grp.select(col("gid").as("b_id"), col("members").as("mb")), "b_id")
      .select(explode(col("ma")).as("a"), col("mb"), col("jaccard"))
      .select(col("a"), explode(col("mb")).as("b"), col("jaccard"))
      .select(least(col("a"), col("b")).as("a_id"),
        greatest(col("a"), col("b")).as("b_id"), col("jaccard"))
    intra.union(inter).orderBy("a_id", "b_id")
  }

  /** Shared shingle/inverted-index CTE body — interpolated into BOTH the
    * pair oracle (q24/q25/q42) and the cluster oracle (q53) so a change to
    * the shingle rule can never silently diverge them. */
  private val jaccardCte: String =
    """docs AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(w)-1),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3),
      |ex AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS nsh, unnest(shingles) AS sh FROM docs)""".stripMargin

  private val jaccardOracle: String =
    s"""WITH $jaccardCte
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(COUNT(*) AS DOUBLE) / (a.nsh + b.nsh - COUNT(*)) AS jaccard
       |FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
       |HAVING CAST(COUNT(*) AS DOUBLE) / (a.nsh + b.nsh - COUNT(*)) >= 0.6
       |ORDER BY a_id, b_id""".stripMargin

  def q24DedupNgram(s: SparkSession, d: String): DataFrame =
    exactJaccardPairs(s, d, 0.6)

  val q24Sql: String = jaccardOracle

  // ---------------------------------------------------------------- q161
  /** q161: N-GRAM CONTAINMENT PAIRS — the ASYMMETRIC near-dup the Jaccard
    * family misses: C(A,B) = |A∩B| / |A| ≥ t says "A is (mostly)
    * CONTAINED in B" regardless of how much bigger B is — the quote /
    * boilerplate / excerpt detector (a doc quoting a paragraph of a much
    * longer doc has tiny Jaccard but containment ≈ 1). All-Pairs prefix
    * filtering survives the asymmetry one-sidedly (Bayardo et al.'s
    * containment case): if C(A,B) ≥ t then at most |A| − ⌈t·|A|⌉ of A's
    * tokens are outside B, so A shares a token with B inside A's
    * (|A| − ⌈t·|A|⌉ + 1)-PREFIX under the df total order — the PROBE side
    * keeps the Jaccard prefix (same slice expression), but the INDEX side
    * must carry FULL token lists (B is unbounded), so this family floods
    * faster than Jaccard on boilerplate-heavy corpora and carries the
    * asymmetric probe×index mass guard. Verification is exact
    * (array_intersect / |A|); output is DIRECTED (a_id contained in
    * b_id), both directions of a mutual near-dup pair appearing. */
  def q161ContainmentPairs(s: SparkSession, d: String): DataFrame =
    containmentPairs(shingled(s, d), 0.8)

  private[graft] def containmentPairs(shingledDocs: DataFrame,
      threshold: Double): DataFrame = {
    val (docs, prefix) = rankedDocsAndPrefix(shingledDocs, threshold)
    val fullIndex = docs.select(col("doc_id"), explode(col("hs")).as("shh"))
    val kj = probeCollisionCounts(prefix, fullIndex, Seq("shh"))
    val gate = budgetGate(probeMassOf(kj), defaultPairBudget, "containment",
      "the full-token index side floods on boilerplate-heavy corpora. " +
        "Collapse exact duplicates first (collapsedJaccardPairs / q42), raise " +
        "the threshold (shorter probe prefixes), or raise the budget " +
        "(-Dgraft.pair.budget / SPARK_GRAFT_PAIR_BUDGET) if this many " +
        "verifications are intended.")
    // index-side prefilter only: every probe-prefix key trivially appears in
    // the index (the probe doc's own tokens), so the probe-side semi-join
    // would filter nothing — the win is dropping index tokens no prefix ever
    // probes (the boilerplate suffix mass)
    val idx = gatedBy(fullIndex, gate).join(kj.select("shh"), Seq("shh"), "left_semi")
    val candidates = prefix.as("a").join(idx.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val da = docs.select(col("doc_id").as("a_id"), col("hs").as("ha"), col("nsh").as("na"))
    val db = docs.select(col("doc_id").as("b_id"), col("hs").as("hb"))
    candidates.join(da, "a_id").join(db, "b_id")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  val q161Sql: String =
    s"""WITH $jaccardCte
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(COUNT(*) AS DOUBLE) / a.nsh AS containment
       |FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |GROUP BY a.doc_id, b.doc_id, a.nsh
       |HAVING CAST(COUNT(*) AS DOUBLE) / a.nsh >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q162
  /** q162: EXCERPT-CLEAN — q161's detector turned into the curation
    * ACTION (the q24→q34 composition pattern): drop every doc ≥ 0.8
    * contained in a STRICTLY LARGER doc (equal shingle-set sizes
    * tie-break on id, keeping the smaller — so exact-dup clusters keep
    * exactly one member, the q23 convention), keep the rest. The
    * containing doc always survives its own excerpts (containment is
    * size-ordered, so the rule is acyclic — no cascade question: a kept
    * container may itself be dropped only for a still-larger container,
    * and its excerpts were dropped regardless). Output: the kept docs
    * with their shingle counts. */
  def q162ExcerptClean(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
    sh.select(col("doc_id"), col("nsh"))
      .join(excerptDrops(sh, 0.8), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("nsh"))
      .orderBy("doc_id")
  }

  /** The q162 drop rule over ANY shingled frame — the composable form the
    * curation funnel's excerpt stage runs (round-17 verdict #6): doc_ids
    * ≥ `threshold` contained in a STRICTLY LARGER doc of the same frame
    * (equal shingle-set sizes tie-break on id, keeping the smaller — the
    * q23 convention, acyclic by size ordering). */
  private[graft] def excerptDrops(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.select(col("doc_id"), col("nsh"))
    containmentPairs(sh, threshold)
      .join(sizes.select(col("doc_id").as("a_id"), col("nsh").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nsh").as("nb")), "b_id")
      .filter(col("nb") > col("na") ||
        (col("nb") === col("na") && col("b_id") < col("a_id")))
      .select(col("a_id").as("doc_id")).distinct()
  }

  val q162Sql: String =
    s"""WITH $jaccardCte,
       |cont AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS na, b.nsh AS nb
       |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
       |  HAVING CAST(COUNT(*) AS DOUBLE) / a.nsh >= 0.8),
       |drops AS (
       |  SELECT DISTINCT a_id FROM cont
       |  WHERE nb > na OR (nb = na AND b_id < a_id))
       |SELECT doc_id, CAST(len(shingles) AS BIGINT) AS nsh FROM docs
       |WHERE doc_id NOT IN (SELECT a_id FROM drops)
       |ORDER BY doc_id""".stripMargin

  /** Ingest-time containment: "is this FRESH doc an excerpt of anything
    * already in the corpus" — the [[incrementalJaccardPairs]] move applied
    * to the containment family. Only fresh docs' PREFIXES probe (the
    * contained side is the side the prefix theorem bounds), the index is
    * existing ∪ fresh full tokens, so per-batch cost is
    * O(fresh prefixes × collision counts), never a corpus re-pair. Output:
    * the directed (a_id ∈ fresh, containment(a in b) ≥ t) pairs — equal by
    * construction to [[containmentPairs]](all) filtered to fresh a_id
    * (the OperatorSpec differential). */
  private[graft] def incrementalContainment(shingledAll: DataFrame,
      freshIds: DataFrame, threshold: Double): DataFrame = {
    val (docs, prefix) = rankedDocsAndPrefix(shingledAll, threshold)
    val freshPrefix = prefix.join(freshIds, Seq("doc_id"), "left_semi")
    val fullIndex = docs.select(col("doc_id"), explode(col("hs")).as("shh"))
    val kj = probeCollisionCounts(freshPrefix, fullIndex, Seq("shh"))
    val gate = budgetGate(probeMassOf(kj), defaultPairBudget,
      "incremental containment",
      "collapse exact duplicates first, raise the threshold, or raise " +
        "the budget (-Dgraft.pair.budget).")
    // here the key-set prefilter bites on BOTH axes: only keys some FRESH
    // prefix probes survive, so the corpus-sized index shrinks to the
    // fresh batch's token neighborhood before the candidate join
    val idx = gatedBy(fullIndex, gate).join(kj.select("shh"), Seq("shh"), "left_semi")
    val candidates = freshPrefix.as("a").join(idx.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val da = docs.select(col("doc_id").as("a_id"), col("hs").as("ha"), col("nsh").as("na"))
    val db = docs.select(col("doc_id").as("b_id"), col("hs").as("hb"))
    candidates.join(da, "a_id").join(db, "b_id")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  // ---------------------------------------------------------------- q164
  /** CONTAINMENT-INDEX ARTIFACT — the steady-state excerpt gate's
    * persisted form (round-17 verdict #4: the full-token index was
    * rebuilt per call; the lexical family's segment pattern applied to
    * the containment family): the sampled-df rank pairs persist ONCE
    * beside IMMUTABLE ranked-doc segments (`seg0` at build, one new
    * segment per ingest batch via [[containmentAppend]] — a pure
    * O(fresh) write, never a base rewrite), and
    * [[containmentServeFresh]] probes only FRESH prefixes against the
    * union of segments' full-token index. Fresh batches rank with the
    * PERSISTED table — any consistent total order preserves prefix
    * containment (the incrementalFrom argument), so exactness is
    * untouched even for tokens the build never saw (they rank rare, in
    * hash order, on BOTH the probe and its own appended segment). */
  /** Returns the broadcast rank table it just built and persisted, so a
    * same-session caller chaining build → append → serve (q164) ranks with
    * it directly instead of re-collecting `$path/rank` once per step (two
    * driver collects + broadcasts per entry — r19 verdict #2; at 100 TB
    * the 1M-row bound itself is the driver-memory pressure point). The
    * parquet table IS these pairs verbatim, so table-from-build ≡
    * table-from-parquet; fresh processes still rehydrate via
    * [[containmentRankTable]]. */
  def containmentArtifactBuild(s: SparkSession, path: String, docs: DataFrame)
      : org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])] = {
    Artifacts.delete(s, path)
    // CACHE the hashed arrays before anything explodes them — the
    // rankedDocsAndPrefix convention: dfRankPairs explodes hs0, and
    // exploding a freshly-COMPUTED array re-evaluates the interpreted
    // trigram+hash pipeline per output row (measured: 84 s vs 2 s at
    // 100k docs). Released after the last consumer's write (an action).
    val hashed = hashShingles(docs).cache()
    val pairs = dfRankPairs(hashed)
    import s.implicits._
    // parallelize, never a local relation: toDF on a 1M-entry driver
    // array would embed the rows in the query plan
    ContainmentRank.write(s.sparkContext.parallelize(pairs.toIndexedSeq, 1).toDF("shh", "df"),
      path)
    val btable = s.sparkContext.broadcast(graft.functions.RankSort.buildTable(pairs))
    writeContainmentSegment(hashed, btable, s"$path/seg0")
    hashed.unpersist(blocking = false)
    btable
  }

  /** The frozen df-rank table of a containment root, (shh, df) rows in the
    * column order [[containmentArtifactBuild]] writes them. */
  private[graft] val ContainmentRank = Artifacts.FileSet("rank", StructType(Seq(
    StructField("shh", LongType), StructField("df", LongType))))

  private[graft] def containmentRankTable(s: SparkSession, path: String)
      : org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])] =
    s.sparkContext.broadcast(graft.functions.RankSort.buildTable(
      ContainmentRank.read(s, path).collect()
        .map(r => (r.getLong(0), r.getLong(1)))))

  /** Fold a fresh batch into the containment artifact: rank under the
    * persisted table, write one immutable segment — O(fresh). */
  def containmentAppend(s: SparkSession, path: String, freshDocs: DataFrame,
      seg: String): Unit =
    containmentAppendWith(path, freshDocs, seg, containmentRankTable(s, path))

  /** [[containmentAppend]] under an ALREADY-LOADED rank table — the
    * one-collect seam for callers that hold it (the build that just
    * returned it, or a stream that rehydrated once per process). */
  private[graft] def containmentAppendWith(path: String, freshDocs: DataFrame,
      seg: String,
      btable: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])]): Unit =
    writeContainmentSegment(hashShingles(freshDocs), btable, s"$path/$seg")

  /** A containment segment, in the column order [[writeContainmentSegment]]
    * writes it (the compactor writes the same rows). The segment dir IS
    * the file set, so its name is empty. */
  private[graft] val ContainmentSeg = Artifacts.FileSet("", StructType(Seq(
    StructField("doc_id", LongType), StructField("hs", ArrayType(LongType)),
    StructField("nsh", LongType))))

  /** One containment segment: the hashed docs ranked under `btable`. */
  private def writeContainmentSegment(hashed: DataFrame,
      btable: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])],
      seg: String): Unit =
    ContainmentSeg.write(rankDocs(hashed, btable).select("doc_id", "hs", "nsh"), seg)

  /** The segment union as one frame ([[Artifacts.segments]], read under
    * [[ContainmentSeg]]) — the serve side's index input, the compactor's
    * merge, and the [[graft.streaming.DocStream]] rehydration seam. */
  private[graft] def containmentSegmentDocs(s: SparkSession, path: String): DataFrame =
    ContainmentSeg.read(s, Artifacts.requireSegments(s, path, "containment-index"): _*)

  /** SIZE-TIERED COMPACTION for the containment-index artifact — the
    * [[Artifacts.compactOverTier]] window the lexical index uses, applied to
    * the round-18 gap (containment segments never compacted: a year of
    * daily appends is 365 segments, and the serve-side full-token explode
    * plus per-segment listing grow with segment count). At ≤ `maxSegments`
    * segments under the published root of `base` this is a metadata-only
    * no-op. Past the tier it stages the SEGMENT UNION as one merged
    * segment beside the unchanged RANK TABLE in the next version and
    * publishes it through [[RootPointer.maintain]]. df ranks are
    * build-time constants of the artifact, so merged rows are
    * byte-identical rows and serve-after ≡ serve-before exactly
    * (OperatorSpec pins it), and the rank table is FILE-copied
    * ([[Artifacts.copyFrozen]]): the one Spark job is the merged segment's
    * write. Call it between ingest batches (one writer per base). Returns
    * true iff a compaction published. */
  def maybeCompactContainmentVersioned(s: SparkSession, base: String,
      maxSegments: Int): Boolean =
    Artifacts.compactOverTier(s, base, maxSegments) { (cur, out) =>
      require(ContainmentRank.exists(s, cur), s"no containment rank table under $cur")
      ContainmentSeg.write(containmentSegmentDocs(s, cur), s"$out/seg0")
      Artifacts.copyFrozen(s, cur, out, ContainmentRank.name)
    }

  /** "Is any FRESH doc an excerpt of anything in the artifact (fresh
    * batch included, once appended)?" — the [[incrementalContainment]]
    * semantics served from the persisted segments: directed (a_id ∈
    * fresh, containment(a in b) ≥ t) pairs, same in-plan asymmetric mass
    * gate, zero corpus re-indexing (the segments ARE the index). The
    * a-side tokens come from the fresh frame itself, so the call is
    * well-defined whether or not the batch was appended first — without
    * the append the answer is fresh-vs-existing only (fresh-vs-fresh
    * pairs need the b-side, i.e. the append). */
  def containmentServeFresh(s: SparkSession, path: String, freshDocs: DataFrame,
      threshold: Double): DataFrame =
    containmentServeFreshWith(s, path, freshDocs, threshold,
      containmentRankTable(s, path))

  /** [[containmentServeFresh]] under an ALREADY-LOADED rank table — same
    * seam as [[containmentAppendWith]]. */
  private[graft] def containmentServeFreshWith(s: SparkSession, path: String,
      freshDocs: DataFrame, threshold: Double,
      btable: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])])
      : DataFrame = {
    val segDocs = containmentSegmentDocs(s, path)
    // the a-side arrays (ha, na) come from the FRESH frame itself, not an
    // inner join back into the segment union — serving a batch that was
    // never appended then still answers "fresh vs artifact" instead of
    // silently dropping every fresh doc (the r18 ADVICE footgun); append
    // first only if fresh-vs-fresh pairs should be included (b-side stays
    // the segments by design).
    // CACHED (r20, guide §1.2): the ranked fresh batch feeds BOTH the probe
    // prefixes and the verify a-side of the one serve plan, and the
    // tokenize → trigram → hash → rank chain is the expensive per-row work
    // (measured at 100k docs / 20% fresh: the uncached serve re-ran it
    // twice). Same CacheBin contract as rankedDocsAndPrefix's caches.
    val freshRanked = CacheBin.note(
      rankDocs(hashShingles(freshDocs), btable).cache())
    val freshPrefix = freshRanked
      .select(col("doc_id"), col("nsh"), explode(prefixSliceExpr(threshold)).as("shh"))
    val fullIndex = segDocs.select(col("doc_id"), explode(col("hs")).as("shh"))
    val kj = probeCollisionCounts(freshPrefix, fullIndex, Seq("shh"))
    val gate = budgetGate(probeMassOf(kj), defaultPairBudget,
      "containment serve",
      "collapse exact duplicates first, raise the threshold, or raise " +
        "the budget (-Dgraft.pair.budget).")
    val idx = gatedBy(fullIndex, gate).join(kj.select("shh"), Seq("shh"), "left_semi")
    val candidates = freshPrefix.as("a").join(idx.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val da = freshRanked.select(col("doc_id").as("a_id"), col("hs").as("ha"),
      col("nsh").as("na"))
    val db = segDocs.select(col("doc_id").as("b_id"), col("hs").as("hb"))
    candidates.join(da, "a_id").join(db, "b_id")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  /** q164: the containment gate SERVED FROM THE ARTIFACT, oracle-gated —
    * build the segment artifact over the existing corpus, fold the fresh
    * batch (doc_id % 5 == 0, the q70 convention) as one O(fresh) append,
    * then serve the ingest question from the segments alone. Oracle:
    * q161's directed-pair query restricted to fresh a_id — identical
    * results require the persisted rank order, the segment round-trip,
    * and the one-sided probe to lose nothing and add nothing. */
  def q164ContainmentServed(s: SparkSession, d: String): DataFrame = {
    val root = s"${Artifacts.datasetScratch(d)}/contain"
    val docs = Tables.spread(s, Tables.documents(s, d), "doc_id")
    // ONE rank table for the whole lifecycle (r19 verdict #2): the build
    // just computed and persisted it — append and serve rank under the
    // returned broadcast instead of each re-collecting `$root/rank`
    // (2 collects + 2 broadcasts per entry, a driver pressure point at
    // scale). Table-from-build ≡ table-from-parquet (exact (long, long)
    // round-trip); the parquet rehydration path keeps its own gates
    // (OperatorSpec's round-trip differential, DocStream's stream gate).
    val btable = containmentArtifactBuild(s, root, docs.filter(col("doc_id") % 5 =!= 0))
    containmentAppendWith(root, docs.filter(col("doc_id") % 5 === 0), "seg1", btable)
    containmentServeFreshWith(s, root, docs.filter(col("doc_id") % 5 === 0), 0.8, btable)
  }

  val q164Sql: String =
    s"""WITH $jaccardCte
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(COUNT(*) AS DOUBLE) / a.nsh AS containment
       |FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |WHERE a.doc_id % 5 = 0
       |GROUP BY a.doc_id, b.doc_id, a.nsh
       |HAVING CAST(COUNT(*) AS DOUBLE) / a.nsh >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  // q70 oracle: the SAME full-corpus pair query, restricted to pairs with a
  // fresh member — the incremental path must equal exactly this set
  val q70Sql: String =
    s"""WITH $jaccardCte
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(COUNT(*) AS DOUBLE) / (a.nsh + b.nsh - COUNT(*)) AS jaccard
       |FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
       |GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
       |HAVING CAST(COUNT(*) AS DOUBLE) / (a.nsh + b.nsh - COUNT(*)) >= 0.6
       |ORDER BY a_id, b_id""".stripMargin

  /** In-plan gate for the SYMMETRIC bucket self-join families (MinHash
    * bands, SimHash bands): one collision group-count subtree yields the
    * Σ C(n,2) candidate-mass bound, and the [[budgetGate]] refuses past
    * [[defaultPairBudget]] before any pair shuffles — every banded family
    * refuses the blow-up mode instead of spilling into it. ZERO eager
    * jobs (the round-17 premium's fix: the eager probe cost one extra job
    * + cache fill per entry on sub-second queries). `lever` names the
    * family-specific way out, quoted in the refusal. */
  private def guardedBandCandidates(buckets: DataFrame, keys: Seq[String],
      family: String, lever: String): DataFrame = {
    // cache the bucket frame: the expensive pipeline (shingle + signature
    // agg + band explode) has four lazy consumers (count, gate, two join
    // sides) and AQE's broadcast decisions defeat exchange reuse between
    // them (measured: fully-uncached q25 is 4.3× the unguarded run; a
    // sigs-level cache 1.9×; this shape 1.5×). Tracked in CacheBin —
    // long-lived library callers release after their action (the sweeps
    // use per-entry clearCache instead)
    val cached = CacheBin.note(buckets.cache())
    val cnt = collisionCounts(cached, keys)
    val gate = budgetGate(pairMassOf(cnt), defaultPairBudget, family,
      s"the bucket space has too little entropy for this corpus. $lever, " +
        "collapse exact duplicates first (collapsedJaccardPairs / q42), or " +
        "raise the budget (-Dgraft.pair.budget / SPARK_GRAFT_PAIR_BUDGET) " +
        "if this many verifications are intended.")
    // one-sided gate: the ungated build side races the gate job on the
    // cache fill (parallelism that symmetric gating loses — measured 1.56
    // vs 2.13 median ratio over the unguarded shape), while the gated
    // stream side still blocks every pair row on the mass check
    val colliding = gatedBy(cached, gate)
    colliding.as("a").join(cached.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** The ASYMMETRIC probe×index count frame (containment and friends):
    * per-key (probe count, index count) for keys present on BOTH sides —
    * two group-counts + a tiny count join, all in-plan (the exchanges are
    * shared with the prefilter consumers via ReuseExchange, never probed
    * eagerly). Σ pn·bn over it upper-bounds the candidate join's row
    * count, and its key set prefilters the flooding (full-token index)
    * side: index tokens that appear in no probe prefix — the boilerplate
    * majority on a real corpus — never enter the candidate join at all,
    * repaying the guard. */
  private def probeCollisionCounts(probes: DataFrame, buckets: DataFrame,
      keys: Seq[String]): DataFrame =
    probes.groupBy(keys.map(col): _*).agg(count(lit(1)).as("pn"))
      .join(buckets.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bn")), keys)

  /** Σ pn·bn mass frame (one row, col m) of a [[probeCollisionCounts]]. */
  private def probeMassOf(kj: DataFrame): DataFrame =
    kj.agg(coalesce(sum(expr("pn * bn")), lit(0L)).as("m"))

  // MinHash + LSH: 128 minhashes (xxhash64 domains), 32 bands × 4 rows,
  // band-bucket join for candidates, exact Jaccard verification. The verified
  // output equals the exact-Jaccard result (recall loss ≈ 5e−8 at J=0.8, and
  // the testdata has no pairs in (0.3, 0.8) at any SF), hence the shared
  // oracle. At 100 TB this is THE scalable path: candidates are generated by
  // an equi-join on (band, signature) — work proportional to collisions, not
  // to n².
  private val NumHashes = 128
  private val NumBands = 32
  private val RowsPerBand = 4

  def q25DedupMinhash(s: SparkSession, d: String): DataFrame = {
    graft.functions.MinHashAgg.register(s)
    // hash each shingle string once, into the CACHED arrays: the signature
    // agg explodes the longs (string explode made GenerateExec copy each
    // string per row — see simhashes note) and verification intersects the
    // SAME long arrays (the q24 convention; the string-array intersect was
    // ~2× the verify cost, and the xxhash64-collision caveat is identical)
    val docs = shingled(s, d)
      .select(col("doc_id"),
        expr("transform(shingles, x -> xxhash64(x))").as("hs"), col("nsh"))
      .cache()
    CacheBin.note(docs)
    val ex = docs.select(col("doc_id"), explode(col("hs")).as("shh"))
    val sigs = ex.groupBy("doc_id")
      .agg(expr(s"graft_minhash(shh, $NumHashes)").as("mhs"))
    val candidates = guardedBandCandidates(sigs
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${NumBands - 1}), b -> xxhash64(slice(mhs, b * $RowsPerBand + 1, $RowsPerBand)))"))
        .as(Seq("band_id", "sig"))),
      Seq("band_id", "sig"), "MinHash LSH",
      "Raise rows-per-band (narrower bands collide less)")
    // exact verification of the candidate pairs only
    val da = docs.select(col("doc_id").as("a_id"), col("hs").as("ha"), col("nsh").as("na"))
    val db = docs.select(col("doc_id").as("b_id"), col("hs").as("hb"), col("nsh").as("nb"))
    candidates.join(da, "a_id").join(db, "b_id")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.6)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  val q25Sql: String = jaccardOracle

  // SimHash: 48-bit signature over trigram features (bit b of a feature =
  // bit of its md5 hex digest — reproducible in any engine), banded 4 × 12
  // bits. hamming ≤ 3 ⇒ at least one band equal (pigeonhole) ⇒ exact recall.
  private val SimBits = 48
  private val SimBands = 4
  private val BandWidth = SimBits / SimBands

  /** (doc_id, sim) 48-bit simhash signatures.
    *
    * A shingle's 48 feature bits are the first 12 hex digits of its md5,
    * packed into ONE long (`conv(hex, 16, 10)` — reproducible in any
    * engine). The per-doc signature is then a single hash aggregation with
    * 48 codegen'd conditional sums — no per-bit row explosion, no second
    * shuffle: the map-side combine reduces every partition to ≤ #docs rows. */
  private[ops] def simhashes(s: SparkSession, d: String): DataFrame = {
    graft.functions.SimHashAgg.register(s)
    // map shingle → 48-bit mask INSIDE the array, then explode longs:
    // exploding a freshly-computed array of strings makes GenerateExec copy
    // each string per output row (~10× the whole stage's cost, measured);
    // exploding fixed-width longs is near-free
    val masked = shingled(s, d)
      .select(col("doc_id"), explode(expr(
        "transform(shingles, x -> CAST(conv(substring(md5(x), 1, 12), 16, 10) AS BIGINT))")).as("mask"))
    masked.groupBy("doc_id")
      .agg(expr(s"graft_simhash(mask, $SimBits)").as("sim"))
  }

  def q26DedupSimhash(s: SparkSession, d: String): DataFrame = {
    val sims = CacheBin.note(simhashes(s, d).cache())
    val bandCols = (0 until SimBands).map { k =>
      struct(lit(k).as("band_id"),
        expr(s"(sim >> ${k * BandWidth}) & ${(1L << BandWidth) - 1}").as("bval"))
    }
    val candidates = guardedBandCandidates(
      sims.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
        .select(col("doc_id"), col("bs.band_id"), col("bs.bval")),
      Seq("band_id", "bval"), "SimHash banding",
      "Widen the bands (fewer, wider bands collide less — the q143 trade)")
    val sa = sims.select(col("doc_id").as("a_id"), col("sim").as("sim_a"))
    val sb = sims.select(col("doc_id").as("b_id"), col("sim").as("sim_b"))
    candidates.join(sa, "a_id").join(sb, "b_id")
      .withColumn("hamming", expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  val q26Sql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(ws)-1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |masks AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substring(md5(unnest(shingles)), 1, 12)) AS BIGINT) AS mask
      |  FROM w),
      |sgn AS (
      |  SELECT doc_id, bb.b,
      |         SUM(((mask >> CAST(bb.b AS INTEGER)) & 1) * 2 - 1) AS s
      |  FROM masks CROSS JOIN (SELECT unnest(range(0, 48)) AS b) bb
      |  GROUP BY doc_id, bb.b),
      |sims AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN s > 0
      |                  THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS sim
      |  FROM sgn GROUP BY doc_id)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
      |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sim, b.sim)) <= 3
      |ORDER BY a_id, b_id""".stripMargin

  // embedding-cosine near-dup: threshold 0.57 sits in a measured gap of the
  // testdata cosine distribution at every SF (…0.5454 | 0.5984…), so rounded
  // doubles can never flip a pair. Dot products fold left-to-right in double
  // on both engines.
  //
  // SRP-LSH prefilter (multi-table + hamming-1 multi-probe) replaces the n²
  // nested-loop compare: every vector lands in `EmbTables` buckets (one per
  // table, bucket = packed sign bits of `EmbBits` md5-derived hyperplane
  // projections — same plane family as q29); candidates are pairs sharing a
  // bucket in ANY table, where the probe side also visits the `EmbBits`
  // buckets one bit-flip away (multi-probe: catches pairs whose signatures
  // disagree in exactly one plane of a table). All joins are equi-joins on
  // (table, bucket) — work scales with collision counts, never n². Survivors
  // are exact-verified with the full dot product, so precision is exact; at
  // cos ≥ 0.57 (per-plane agreement p = 1 − acos(.57)/π ≈ 0.70) the 12×10-bit
  // tables + 1-probe give every qualifying testdata pair 2–4 catching tables
  // (verified by the brute-force differential spec at all SFs). At 100 TB,
  // grow EmbBits with log₂(n) to hold per-bucket occupancy constant.
  private[ops] val EmbTables = 12
  private[ops] val EmbBits = 10

  /** SRP-LSH near-dup core over any (vec_id, embedding) frame — tables/bits
    * are the scale dials (hold 2^bits ∝ n for constant bucket occupancy). */
  private[graft] def embedNearDups(raw: DataFrame, threshold: Double,
      tables: Int, bits: Int): DataFrame = {
    val s = raw.sparkSession
    graft.functions.VectorFunctions.register(s)
    val fn = s"graft_srp_buckets_${tables}_$bits"
    graft.functions.VectorFunctions.registerSrp(s, fn,
      Similarity.srpPlanes(tables * bits).flatten.toSeq, tables, bits)
    val emb = raw
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      .withColumn("bks", expr(s"$fn(e)"))
      .cache()
    CacheBin.note(emb)
    val buckets = CacheBin.note(emb.select(col("vec_id"),
      posexplode(col("bks")).as(Seq("tbl", "bkt"))).cache())
    // probe side: own bucket + the `bits` hamming-1 neighbors per table
    val probes = buckets.select(col("vec_id"), col("tbl"), explode(expr(
      s"transform(sequence(0, $bits), j -> CASE WHEN j = 0 THEN bkt ELSE int(bkt ^ shiftleft(1, j - 1)) END)"))
      .as("bkt"))
    // the asymmetric probe x bucket mass bound — the banded families'
    // refusal discipline on the SRP multi-probe join (grow `bits` with
    // log2(n) to hold per-bucket occupancy constant — the documented
    // dial). Computed from the BUCKET COUNTS ALONE: the probes hitting a
    // bucket are exactly its own members plus its `bits` hamming-1
    // neighbors' members, so mass = Σ bn(b)·(bn(b) + Σ_j bn(b ^ 2^j))
    // over a ≤ tables·2^bits count frame — no pass over the 11×-exploded
    // probe frame (counting that frame cost more than some corpora's
    // whole candidate join: q27 went 1.26 → 2.90 s on the first guard)
    val bn = buckets.groupBy("tbl", "bkt").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val mass = bn.iterator.map { case ((t, b), n) =>
      n * (0 to bits).map(j =>
        if (j == 0) n else bn.getOrElse((t, b ^ (1 << (j - 1))), 0L)).sum
    }.sum
    require(mass <= defaultPairBudget,
      s"$BudgetSentinel SRP-LSH candidate mass $mass exceeds the budget " +
        s"$defaultPairBudget: " +
        "per-bucket occupancy is too high for this corpus. Grow the bits " +
        "dial with log2(n) (holds occupancy constant), or raise the budget " +
        "(-Dgraft.pair.budget / SPARK_GRAFT_PAIR_BUDGET) if " +
        s"~${mass / 1000000}M dot-product verifications are intended.")
    val candidates = probes.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
      // materialize once, release the bucket cache (the guard-cache
      // discipline — nothing bucket-sized lingers across a catalog sweep);
      // emb stays cached: the verify join below still reads it
      .localCheckpoint(eager = true)
    buckets.unpersist(blocking = false)
    val va = emb.select(col("vec_id").as("a_id"), col("e").as("ea"), col("nrm").as("na"))
    val vb = emb.select(col("vec_id").as("b_id"), col("e").as("eb"), col("nrm").as("nb"))
    candidates.join(va, "a_id").join(vb, "b_id")
      .withColumn("cos_sim", round(expr("graft_dot(ea, eb)") / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("a_id", "b_id", "cos_sim")
      .orderBy("a_id", "b_id")
  }

  def q27DedupEmbed(s: SparkSession, d: String): DataFrame =
    embedNearDups(Tables.spread(s, Tables.embeddings(s, d), "vec_id"),
      0.57, EmbTables, EmbBits)

  val q27Sql: String =
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.57
      |ORDER BY a_id, b_id""".stripMargin

  /** Catalog surface for the exact-duplicate-collapse path: same contract
    * (and oracle) as q24, reached through the representative collapse —
    * the formulation a 100 TB crawl corpus should run. */
  def q42DedupCollapsed(s: SparkSession, d: String): DataFrame =
    collapsedJaccardPairs(Tables.spread(s, Tables.documents(s, d), "doc_id"), 0.6)

  val q42Sql: String = jaccardOracle

  /** Connected-component cluster assignment over a near-dup pair graph —
    * the stage every production dedup runs AFTER pair generation (keep one
    * representative per component, not per pair). Distributed min-label
    * propagation: every node starts labeled with its own id; each round a
    * node takes the minimum label in its closed neighborhood; fixpoint =
    * components labeled by their minimum member.
    *
    * The iteration kernel runs on RDDs — the one place this engine drops
    * below DataFrames, and deliberately: an iterative DataFrame loop either
    * nests its whole plan history (analysis OOMs by round ~20) or
    * localCheckpoints every round with no public way to free superseded
    * block storage. With RDDs each round is persist + localCheckpoint
    * (lineage truncated) and the previous round is unpersisted explicitly,
    * so storage stays O(nodes) however many rounds run. Convergence = the
    * exact BigInt label-sum stopped falling (labels only decrease; a Long
    * sum could alias a real change by wrapping). Rounds ≈ component
    * diameter — shallow for near-dup graphs (duplicates of one source); a
    * pathological high-diameter graph that exhausts the round cap falls
    * back to [[starCluster]] (O(log² n) rounds regardless of diameter)
    * instead of failing or returning a half-propagated labeling.
    * Round barriers go through [[Materialize.round]]: localCheckpoint by
    * default, RELIABLE checkpoint when spark.graft.checkpointDir is set —
    * the cluster form that survives executor loss. */
  private[graft] def clusterPairs(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val prdd = pairs.select(col("a_id"), col("b_id")).rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = prdd.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    // closed neighborhood: self-loops make a node's own label participate
    val edges = sym.union(sym.map { case (s, _) => (s, s) }).distinct()
    val byDst = edges.map { case (s, d) => (d, s) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // initialization IS the first propagation round: with label(n) = n, the
    // closed-neighborhood min is just min(dst) per src over self-looped edges
    var labels = Materialize.round(spark, edges.reduceByKey(math.min)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    def labelSum(r: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      r.mapPartitions { it =>
        Iterator.single(it.foldLeft(BigInt(0))((acc, t) => acc + t._2))
      }.collect().foldLeft(BigInt(0))(_ + _)
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = false
    // Round cap 12, deliberately tight: rounds ≈ component diameter, and a
    // real near-dup component (duplicates of one source, maybe chained
    // through a few rewrites) converges in ≤ ~5; a graph still moving after
    // 12 is pathological and the star fallback is exact, O(log² n) rounds
    // regardless of diameter.
    // The cap only picks which kernel finishes the job — never correctness.
    // Measured (BASELINE.md's power-law clustering probe, chain diameter
    // 5000 + 500k-degree hub):
    // with the old cap of 50 the capped phase burned ~3× the cost of the
    // entire star fallback before invoking it.
    while (!converged && rounds < 12) {
      val prop = Materialize.round(spark, byDst.join(labels)
        .map { case (_, (src, lbl)) => (src, lbl) }
        .reduceByKey(math.min)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val curSum = labelSum(prop)
      converged = curSum == prevSum
      prevSum = curSum
      labels.unpersist(blocking = false)
      labels = prop
      rounds += 1
    }
    if (!converged) {
      // High-diameter fallback: the min-label kernel is O(diameter) rounds —
      // right for near-dup graphs (stars around one source, diameter ~2) but
      // a pathological chain would need `diameter` rounds. Rather than fail,
      // switch to alternating large-star/small-star contraction, which is
      // O(log² n) rounds REGARDLESS of diameter. min-label stays the default
      // for its exact monotone-sum convergence proof and lower constant on
      // small per-query graphs.
      labels.unpersist(blocking = false)
      labels = starCluster(prdd.filter { case (a, b) => a != b })
    }
    byDst.unpersist(blocking = false)
    spark.createDataFrame(labels).toDF("doc_id", "cluster_id")
      .orderBy("doc_id")
  }

  /** Alternating large-star / small-star connected components (the classic
    * MapReduce formulation: Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14). Each round: large-star hangs every
    * neighbor larger than `u` off the minimum of `u`'s closed neighborhood;
    * small-star re-points the smaller neighbors (and `u` itself) at that
    * minimum. The edge set monotonically contracts toward a star forest —
    * fixpoint in O(log² n) rounds independent of component diameter, which
    * is exactly the regime where the min-label loop's O(diameter) blows
    * past its cap. Lineage is truncated per round (persist +
    * Materialize.round — reliable when configured, local otherwise —
    * previous round unpersisted) like the main kernel.
    * Fixpoint test is exact set equality via two-sided subtract — two extra
    * shuffles per round, acceptable on the rare fallback path. */
  private[graft] def starCluster(
      pairs: org.apache.spark.rdd.RDD[(Long, Long)]): org.apache.spark.rdd.RDD[(Long, Long)] = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Both steps are expressed as reduceByKey(min) + join, NOT groupByKey:
    // a mega-component's hub node would otherwise materialize its whole
    // neighbor list (possibly 10^8 entries at 100 TB) inside one task. The
    // map-side-combining min and the streaming join keep every stage
    // bounded-memory at any degree.
    def largeStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val sym = e.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val mins = sym.reduceByKey(math.min)
        .map { case (u, m) => (u, math.min(u, m)) }
      sym.join(mins)
        .collect { case (u, (v, m)) if v > u => (v, m) }
        .distinct()
    }
    def smallStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val dir = e.map { case (a, b) => if (a >= b) (a, b) else (b, a) }
      val mins = dir.reduceByKey(math.min)
      dir.join(mins)
        .flatMap { case (u, (v, m)) =>
          if (v != m) Seq((v, m), (u, m)) else Seq((u, m))
        }.distinct()
    }
    val sess = org.apache.spark.sql.SparkSession.active
    var edges = Materialize.round(sess,
      pairs.map { case (a, b) => if (a >= b) (a, b) else (b, a) }
        .distinct().persist(lvl))
    var stable = false
    var rounds = 0
    while (!stable) {
      val next = Materialize.round(sess, smallStar(largeStar(edges)).persist(lvl))
      // a FULL action must land before the parent is unpersisted: a local
      // checkpoint's blocks ARE its storage, and partial materialization
      // (e.g. isEmpty's early exit) would leave holes that resurface as
      // missing-block errors once the parent's blocks are dropped
      next.count()
      stable = next.subtract(edges).isEmpty() && edges.subtract(next).isEmpty()
      edges.unpersist(blocking = false)
      edges = next
      rounds += 1
      require(rounds <= 200,
        "starCluster: no fixpoint after 200 rounds — impossible for any graph " +
          "with < 2^14 nodes (O(log² n) bound); indicates a bug, not data")
    }
    // fixpoint = star forest: every edge is (member, root). Roots label
    // themselves; reduceByKey dedups the root self-labels.
    val labels = Materialize.round(sess,
      edges.flatMap { case (v, r) => Seq((v, r), (r, r)) }
        .reduceByKey(math.min)
        .persist(lvl))
    labels.count()
    edges.unpersist(blocking = false)
    labels
  }

  def q53DedupClusters(s: SparkSession, d: String): DataFrame =
    clusterPairs(exactJaccardPairs(s, d, 0.6).select("a_id", "b_id"))

  /** q129: INCREMENTAL CLUSTER MAINTENANCE — fold a fresh document batch
    * into existing near-dup cluster labels WITHOUT regenerating a single
    * existing×existing candidate pair: the dedup-family member of the
    * append family (q106 patches the kNN graph, q115 folds lexical
    * segments; this folds the cluster labeling every leakage-safe split
    * and collapse consumer keys on — q108/q124 go stale on every ingest
    * batch otherwise).
    *
    * The fold is EXACT by a connectivity argument, not an approximation:
    * base labels (member → root) are a star SUBGRAPH of the base pair
    * graph with identical components and component-minimum roots; the
    * one-sided probe ([[incrementalJaccardPairs]] — fresh prefixes
    * against corpus ∪ fresh, never existing×existing) supplies EVERY
    * J ≥ t pair with ≥ 1 fresh member; so components of
    * (label edges ∪ fresh pairs) = components of the full pair graph,
    * and the min-label fixpoint returns min(doc_id) per merged component
    * — bit-for-bit q53 over the union, including the hard case where one
    * fresh doc BRIDGES two existing clusters (their roots merge to the
    * smaller). The oracle pins exactly that: q53's own recursive-closure
    * SQL over the full corpus.
    *
    * Scale shape: the existing×existing candidate join — the dominant
    * cost of a full recluster (prefix join over 99% of the corpus at a
    * 1% batch) — is GONE; what remains is the one-sided probe (O(fresh)
    * probe rows against the shared index, q70's audited shape) plus a
    * label-edge contraction that starts from an almost-star graph (base
    * edges already point at roots), so rounds ≈ 1 + bridge depth instead
    * of component diameter. The entry recomputes the base labeling so it
    * stands alone (every catalog entry must); a real pipeline reads the
    * persisted label artifact (q128's build side) and runs ONLY the fold. */
  def q129ClusterAppend(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, d), "doc_id")
    val cut = Tables.documents(s, d)
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0) * 4 / 5
    val baseLabels = clusterPairs(
      jaccardPairs(shingleDocs(docs.filter(col("doc_id") <= cut)), 0.6)
        .select("a_id", "b_id"))
    val freshPairs = incrementalJaccardPairs(shingleDocs(docs),
      docs.select("doc_id").filter(col("doc_id") > cut), 0.6)
      .select("a_id", "b_id")
    clusterPairs(
      baseLabels.select(col("doc_id").as("a_id"), col("cluster_id").as("b_id"))
        .unionByName(freshPairs))
  }

  /** Recursive-closure cluster CTE shared by q53 (report) and q61 (apply):
    * yields `cl(doc_id, cluster_id)`. */
  private val clusterCte: String =
    """pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
      |  HAVING CAST(COUNT(*) AS DOUBLE) / (a.nsh + b.nsh - COUNT(*)) >= 0.6),
      |edges AS (
      |  SELECT a_id AS a, b_id AS b FROM pairs
      |  UNION SELECT b_id, a_id FROM pairs
      |  UNION SELECT a_id, a_id FROM pairs
      |  UNION SELECT b_id, b_id FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  /** The full shingle→pair→closure chain as a WITH-body (no `WITH
    * RECURSIVE` prefix), yielding `cl(doc_id, cluster_id)` — shared with
    * the retrieval-collapse oracle (q124) so the cluster definition the
    * collapse keys on can never drift from q53's gated one. */
  private[graft] val clusterCtesBody: String =
    s"""$jaccardCte,
       |$clusterCte""".stripMargin

  val q53Sql: String =
    s"""WITH RECURSIVE $clusterCtesBody
       |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin

  /** q108: LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT — the assignment every
    * training pipeline needs before eval numbers mean anything: a plain
    * per-document hash split leaks near-duplicates across the boundary
    * (the test set "contains" mutated copies of training documents — the
    * classic eval-inflation bug), so the split key is the NEAR-DUP CLUSTER
    * (q53's connected components over the J ≥ 0.6 pair graph; singletons
    * key by their own doc_id), and membership is a portable integer hash
    * of that group key — md5-hex → BIGINT, the q22/q43 cross-engine
    * convention — bucketed 80/10/10. Every document in a cluster inherits
    * the SAME bucket by construction, so no near-dup pair can straddle a
    * split (OperatorSpec asserts it over the actual pair set); re-running
    * reselects the identical split (auditable, like q91's sampling).
    *
    * Scale shape: the cluster labels come from the scale-audited q53
    * kernel (min-label propagation with the O(log² n) star-contraction
    * fallback); the label attach is one doc-keyed left equi join; the
    * hash and bucket arithmetic are map-side. Nothing new shuffles beyond
    * q53's own passes. */
  def q108LeakSafeSplit(s: SparkSession, d: String): DataFrame = {
    val labels = clusterPairs(exactJaccardPairs(s, d, 0.6).select("a_id", "b_id"))
    Tables.spread(s, Tables.documents(s, d), "doc_id").select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(grp AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10"))
      .withColumn("split", when(col("bucket") <= 7, lit("train"))
        .when(col("bucket") === 8, lit("val")).otherwise(lit("test")))
      .select("doc_id", "grp", "bucket", "split")
      .orderBy("doc_id")
  }

  val q108Sql: String =
    s"""WITH RECURSIVE $jaccardCte,
       |$clusterCte,
       |g AS (
       |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS grp
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
       |b AS (
       |  SELECT doc_id, grp,
       |         CAST(('0x' || substring(md5(CAST(grp AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bucket
       |  FROM g)
       |SELECT doc_id, grp, bucket,
       |       CASE WHEN bucket <= 7 THEN 'train'
       |            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** q130: DEDUP YIELD ACCOUNTING — the per-source curation report every
    * training-data run publishes after near-dup collapse: how many
    * documents and tokens each source contributed, how many survive
    * keeping one canonical per q53 cluster (canonical = the min-id member,
    * the q42/q124 collapse convention — a doc is kept iff its doc_id IS
    * its group label; singletons label themselves via the q108 coalesce),
    * and the token yield percentage. This is the number that decides
    * whether a source is worth its crawl cost: a source can be large in
    * raw tokens and small in KEPT tokens when its content is mostly
    * near-duplicate boilerplate. Cross-source duplicates are charged to
    * the non-canonical source by construction (its copy is the one
    * dropped), which is exactly the accounting a dedup-aware mixture
    * (q55) should consume.
    *
    * Everything is integer (counts, long token sums); the single double —
    * yield_pct — is one division of exact longs rounded 6dp, the repo's
    * portable-double convention.
    *
    * Scale shape: cluster labels come from the scale-audited q53 kernel
    * (All-Pairs prefix-filtered pair gen + min-label propagation with the
    * star-contraction fallback); the label attach is the same one
    * doc-keyed left equi join q108 rides; the per-source rollup is a
    * partial+final agg with |sources| groups. Nothing shuffles beyond
    * q53's own audited passes plus one tiny agg. */
  def q130DedupYield(s: SparkSession, d: String): DataFrame = {
    val labels = clusterPairs(exactJaccardPairs(s, d, 0.6).select("a_id", "b_id"))
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs_total"),
        sum(col("n_words")).as("tokens_total"),
        sum(col("keep").cast("long")).as("docs_kept"),
        sum(when(col("keep"), col("n_words")).otherwise(lit(0L))).as("tokens_kept"))
      .withColumn("tokens_dropped", col("tokens_total") - col("tokens_kept"))
      .withColumn("yield_pct",
        round(col("tokens_kept") * lit(100.0) / col("tokens_total"), 6))
      .select("source", "docs_total", "tokens_total", "docs_kept",
        "tokens_kept", "tokens_dropped", "yield_pct")
      .orderBy("source")
  }

  val q130Sql: String =
    s"""WITH RECURSIVE $clusterCtesBody,
       |g AS (
       |  SELECT d.source,
       |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       |         COALESCE(cl.cluster_id, d.doc_id) = d.doc_id AS keep
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
       |SELECT source,
       |       CAST(COUNT(*) AS BIGINT) AS docs_total,
       |       CAST(SUM(n_words) AS BIGINT) AS tokens_total,
       |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       |       CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT) AS tokens_kept,
       |       CAST(SUM(CASE WHEN keep THEN 0 ELSE n_words END) AS BIGINT) AS tokens_dropped,
       |       round(CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS DOUBLE) * 100.0
       |             / CAST(SUM(n_words) AS DOUBLE), 6) AS yield_pct
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** Cross-document repeated-substring spans — the distributed form of
    * exact-substring dedup (the "remove any ≥N-token run that appears in
    * more than one document" rule; the reference-free analogue of suffix-
    * array ExactSubstr dedup, which is single-machine). Every SpanN-word
    * gram is md5'd with its position; grams seen in ≥2 distinct docs are
    * flagged and their positions merged into maximal spans per doc — the
    * byte ranges a training pipeline would cut.
    *
    * Scale shape: gram explode is map-side; the multi-doc test is ONE
    * partial+final agg on the gram hash (count distinct over 2 values
    * short-circuits cheaply); flagged grams come back via a left-semi
    * equi-join on the hash; span merging is a per-doc window. No stage
    * compares documents pairwise — cost is linear in corpus grams, which
    * is what makes this the 100 TB formulation where suffix arrays are not.
    */
  private[graft] val SpanN = 15 // words per gram — spans shorter than this are noise

  /** Unordered span frame shared by q57 (report) and q60 (apply). */
  private[graft] def substrSpanFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= SpanN)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(w) - ${SpanN - 1}),
           |  i -> struct(i AS pos, md5(concat_ws(' ', slice(w, i, $SpanN))) AS g))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.pos").cast("long").as("pos"), col("p.g").as("g"))
    val multiDoc = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val ord = Window.partitionBy("doc_id").orderBy("pos")
    grams.join(multiDoc, Seq("g"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(ord) <= 1, 0).otherwise(1))
      .withColumn("run", sum("brk").over(ord))
      .groupBy("doc_id", "run")
      .agg(min("pos").as("span_start"),
        (max("pos") + SpanN - 1).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  def q57SubstrSpans(s: SparkSession, d: String): DataFrame =
    substrSpanFrame(s, d).orderBy("doc_id", "span_start")

  val q57Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SpanN),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |         md5(array_to_string(w[CAST(i AS INTEGER):CAST(i + ${SpanN - 1} AS INTEGER)], ' ')) AS g
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${SpanN - 1} + 1)) AS i FROM d)),
       |dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
       |h AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 1
       |              THEN 0 ELSE 1 END AS brk
       |  FROM g WHERE g IN (SELECT g FROM dup)),
       |r AS (
       |  SELECT doc_id, pos,
       |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run
       |  FROM h)
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${SpanN - 1} AS span_end,
       |       COUNT(*) AS n_grams
       |FROM r GROUP BY doc_id, run ORDER BY doc_id, span_start""".stripMargin

  /** Apply the q57 spans — the "cut" half of exact-substring dedup: every
    * word position covered by a cross-document repeated span is removed and
    * the cleaned text fingerprinted (a consumer would keep the text; the
    * gate compares md5s). Docs without spans pass through unchanged,
    * including docs too short to carry a gram.
    *
    * Scale shape: spans are collected per doc (bounded: spans are disjoint,
    * ≤ len/SpanN of them) and the cut itself is ONE array-lambda expression
    * — map-side, no word-level explode of the corpus; the only added
    * shuffle over q57 is the per-doc span collect. The oracle expresses the
    * same cut relationally (position anti-join + ordered string_agg) —
    * different shape, same semantics, which is exactly what the hash gate
    * is for. */
  def q60SubstrClean(s: SparkSession, d: String): DataFrame = {
    val spans = substrSpanFrame(s, d)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("spans"))
    Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept", when(col("spans").isNull, col("w")).otherwise(
        expr("filter(w, (x, i) -> NOT exists(spans, sp -> i + 1 >= sp.s AND i + 1 <= sp.e))")))
      .select(col("doc_id"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("clean_fp"))
      .orderBy("doc_id")
  }

  val q60Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SpanN),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |         md5(array_to_string(w[CAST(i AS INTEGER):CAST(i + ${SpanN - 1} AS INTEGER)], ' ')) AS g
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${SpanN - 1} + 1)) AS i FROM d)),
       |dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
       |h AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 1
       |              THEN 0 ELSE 1 END AS brk
       |  FROM g WHERE g IN (SELECT g FROM dup)),
       |r AS (
       |  SELECT doc_id, pos,
       |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run
       |  FROM h),
       |spans AS (
       |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${SpanN - 1} AS span_end
       |  FROM r GROUP BY doc_id, run),
       |wp AS (
       |  SELECT doc_id, i AS pos, w[CAST(i AS INTEGER)] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |       LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
       |kept AS (
       |  SELECT wp.doc_id, wp.pos, wp.word
       |  FROM wp LEFT JOIN spans sp
       |    ON wp.doc_id = sp.doc_id AND wp.pos BETWEEN sp.span_start AND sp.span_end
       |  WHERE sp.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         string_agg(word, ' ' ORDER BY pos) AS clean
       |  FROM kept GROUP BY doc_id)
       |SELECT doc.doc_id,
       |       CAST(len(string_split(doc.text, ' ')) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
       |       md5(COALESCE(agg.clean, '')) AS clean_fp
       |FROM documents doc LEFT JOIN agg ON doc.doc_id = agg.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  /** Edit-distance (Levenshtein) near-dup — the short-record dedup rule
    * (titles, URLs, OCR lines) where token-set measures like Jaccard are too
    * coarse: flags pairs within EditMaxDist character edits.
    *
    * Blocking keeps it off the n² cliff: each doc emits TWO blocking keys —
    * its first and last EditBlockChars characters — and candidates are an
    * equi-join on the key (a pair ≤ k edits apart with k < EditBlockChars
    * must have an untouched head or an untouched tail unless edits hit both
    * extremes — the classic prefix/suffix-blocking recall tradeoff, measured
    * against brute force in OperatorSpec). Pairs found under both keys are
    * collapsed by a groupBy BEFORE the O(len²) levenshtein verify, so each
    * pair is verified once; a length-band filter runs ahead of the verify
    * (|len diff| > k can never pass). Hot blocking keys (boilerplate
    * openings) are exactly the skew `Skew.saltedJoin` + AQE absorb at scale.
    */
  private val EditBlockChars = 16
  private[graft] val EditMaxDist = 8

  def q59EditDedup(s: SparkSession, d: String): DataFrame =
    editPairs(Tables.spread(s, Tables.documents(s, d), "doc_id"))

  /** Collapsed candidate pairs (post length-band filter, pre-verify): the
    * set the O(len²) levenshtein actually runs on — its size vs the verified
    * count is the blocking-selectivity metric. */
  private[graft] def editCandidates(src: DataFrame): DataFrame = {
    val docs = src
      .select(col("doc_id"), col("text"), length(col("text")).as("len"),
        substring(col("text"), 1, EditBlockChars).as("hk"),
        expr(s"substring(text, greatest(length(text) - ${EditBlockChars - 1}, 1), $EditBlockChars)").as("tk"))
      .select(col("doc_id"), col("text"), col("len"),
        explode(array(concat(lit("h:"), col("hk")), concat(lit("t:"), col("tk")))).as("bk"))
    val a = docs.select(col("bk"), col("doc_id").as("doc_a"), col("text").as("ta"), col("len").as("la"))
    val b = docs.select(col("bk"), col("doc_id").as("doc_b"), col("text").as("tb"), col("len").as("lb"))
    a.join(b, Seq("bk"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("la") - col("lb")) <= EditMaxDist)
      .groupBy("doc_a", "doc_b")
      .agg(min("ta").as("ta"), min("tb").as("tb"))
  }

  /** Blocked Levenshtein pair core over any (doc_id, text, …) frame. */
  private[graft] def editPairs(src: DataFrame): DataFrame =
    editCandidates(src)
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .filter(col("dist") <= EditMaxDist)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")

  val q59Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS len,
       |         substring(text, 1, $EditBlockChars) AS hk,
       |         substring(text, greatest(length(text) - ${EditBlockChars - 1}, 1), $EditBlockChars) AS tk
       |  FROM documents),
       |k AS (SELECT doc_id, text, len, 'h:' || hk AS bk FROM d
       |      UNION ALL
       |      SELECT doc_id, text, len, 't:' || tk AS bk FROM d),
       |c AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         MIN(a.text) AS ta, MIN(b.text) AS tb
       |  FROM k a JOIN k b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  WHERE abs(a.len - b.len) <= $EditMaxDist
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist
       |FROM c WHERE levenshtein(ta, tb) <= $EditMaxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Canonical-document selection — the step that turns dedup clusters into
    * an actual deduplicated corpus: per cluster keep the member with the
    * most tokens (the standard "longest survivor" rule; quality scores slot
    * in the same way), ties toward the smaller id. One aggregation over the
    * clustered docs — the arg-max is a `max(struct(n_tokens, -doc_id))`, so
    * no per-cluster sort and the shuffle carries one row per member. Token
    * definition shared with q20's `n_tokens` so the two can never diverge.
    *
    * The catalog query recomputes q53's clusters so it stands alone (every
    * catalog entry must); a real pipeline persists the cluster table once
    * and feeds it to `canonicalFrom` — same selection, no pair regeneration
    * (equivalence sbt-gated in OperatorSpec). */
  def canonicalFrom(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long").as("n_tokens"))
    clusters.join(toks, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("negid"))).as("m"))
      .select(col("cluster_id"), (-col("m.negid")).as("keep_id"),
        col("m.n_tokens").as("keep_tokens"), col("n_members"))
      .orderBy("cluster_id")
  }

  def q61Canonical(s: SparkSession, d: String): DataFrame =
    canonicalFrom(q53DedupClusters(s, d),
      Tables.spread(s, Tables.documents(s, d), "doc_id"))

  val q61Sql: String =
    s"""WITH RECURSIVE $jaccardCte,
       |$clusterCte,
       |tok AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |sel AS (
       |  SELECT cl.cluster_id, cl.doc_id, t.n_tokens,
       |         ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
       |                            ORDER BY t.n_tokens DESC, cl.doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
       |  FROM cl JOIN tok t USING (doc_id))
       |SELECT cluster_id, doc_id AS keep_id, n_tokens AS keep_tokens,
       |       CAST(n_members AS BIGINT) AS n_members
       |FROM sel WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Bloom-prefiltered incremental containment — the membership gate a
    * 100 TB ingest runs per fresh batch: "which incoming docs already exist
    * in the corpus?" without EVER shuffling the corpus or the batch.
    *
    * Fresh batch = doc_id % 10 == 0; corpus = the rest; key = q22's
    * prefix fingerprint `fp_head` (the staged-dedup bucketing key —
    * byte-identical texts AND shared-prefix rewrites both hit it).
    *
    * Three stages, all broadcast/map-side:
    *  1. build: `graft_bloom_agg` over corpus fingerprints — partial
    *     filters OR-merge, shuffle = one numBits/8-byte filter per
    *     partition; steady state persists the filter and OR-merges batches.
    *  2. probe: fresh rows filter through codegen'd `graft_bloom_contains`
    *     against the broadcast filter — map-side, no join. Bloom FPs cost
    *     verify work only, never correctness (no false negatives: every
    *     true match survives by construction — differential in
    *     OperatorSpec).
    *  3. verify: the corpus SCAN probes the broadcast survivor-fp set
    *     (left-semi), matched fps broadcast back to the survivors — exact
    *     containment, zero corpus shuffle (PlanSpec).
    * Oracle = plain exact containment; the bloom must be transparent. */
  def q65BloomDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.BloomAgg.register(s)
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    val docs = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), md5(substring(norm, 1, 64)).as("fp"))
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bloom = corpus.agg(expr("graft_bloom_agg(xxhash64(fp), 4096, 3)").as("bloom"))
    val survivors = fresh.crossJoin(broadcast(bloom))
      .filter(expr("graft_bloom_contains(bloom, xxhash64(fp))"))
      .drop("bloom")
    val matched = corpus
      .join(broadcast(survivors.select("fp").distinct()), Seq("fp"), "left_semi")
      .select("fp").distinct()
    // attach from `fresh`, not `survivors`: no-false-negatives means any
    // fresh doc with a matched fp also survived the probe, so the result is
    // identical — and the bloom-build subtree is instantiated ONCE (via
    // `matched`) instead of twice (PlanSpec pins the single nested loop)
    fresh.join(broadcast(matched), Seq("fp"), "left_semi")
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  val q65Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         md5(substring(lower(regexp_replace(text, '\s+', ' ', 'g')), 1, 64)) AS fp
      |  FROM documents),
      |f AS (SELECT doc_id, fp FROM d WHERE doc_id % 10 = 0),
      |c AS (SELECT DISTINCT fp FROM d WHERE doc_id % 10 <> 0)
      |SELECT doc_id, fp FROM f WHERE fp IN (SELECT fp FROM c)
      |ORDER BY doc_id""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q23_dedup_exact", q23DedupExact _, Some(q23Sql)),
    ("q24_dedup_ngram", q24DedupNgram _, Some(q24Sql)),
    ("q161_containment", q161ContainmentPairs _, Some(q161Sql)),
    ("q162_excerpt_clean", q162ExcerptClean _, Some(q162Sql)),
    ("q164_containment_served", q164ContainmentServed _, Some(q164Sql)),
    ("q25_dedup_minhash", q25DedupMinhash _, Some(q25Sql)),
    ("q26_dedup_simhash", q26DedupSimhash _, Some(q26Sql)),
    ("q27_dedup_embed", q27DedupEmbed _, Some(q27Sql)),
    ("q42_dedup_collapsed", q42DedupCollapsed _, Some(q42Sql)),
    ("q53_dedup_clusters", q53DedupClusters _, Some(q53Sql)),
    // incremental fold ≡ full recluster: gated against q53's own oracle
    // (the q106 append convention for the dedup family)
    ("q129_cluster_append", q129ClusterAppend _, Some(q53Sql)),
    ("q108_leak_safe_split", q108LeakSafeSplit _, Some(q108Sql)),
    ("q130_dedup_yield", q130DedupYield _, Some(q130Sql)),
    ("q57_substr_spans", q57SubstrSpans _, Some(q57Sql)),
    ("q59_edit_dedup", q59EditDedup _, Some(q59Sql)),
    ("q60_substr_clean", q60SubstrClean _, Some(q60Sql)),
    ("q61_canonical", q61Canonical _, Some(q61Sql)),
    ("q65_bloom_dedup", q65BloomDedup _, Some(q65Sql)),
    ("q70_dedup_incremental", q70DedupIncremental _, Some(q70Sql)),
  )
}
