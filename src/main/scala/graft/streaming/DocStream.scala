package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Dedup

/** Streaming corpus ingestion with near-dup detection — the continuous form
  * of `Dedup.incrementalJaccardPairs`: fresh documents arrive as a file
  * stream and are checked against a STATIC existing corpus via stream-static
  * joins, emitting (fresh_id, ex_id, jaccard) matches as they land.
  *
  * Design (and why it differs from the batch path):
  *   - The static side is prepared ONCE: the sampled-df rank table
  *     (broadcast) plus the exploded prefix index. Each index row carries
  *     the full ranked hash array, so jaccard verification happens JOIN-
  *     LOCALLY on the matched row — the batch path's verify-by-rejoin would
  *     be a second stateful stage on a stream.
  *   - The fresh side is pure map-side (shingle → hash → rank-sort with the
  *     static table → prefix slice → explode), all streaming-legal
  *     expressions. Prefix containment needs only a CONSISTENT total order
  *     across both sides, so ranking fresh docs by the static corpus's
  *     table preserves the All-Pairs guarantee; tokens unseen by the static
  *     corpus rank as rare (hash order), exactly like df-1 tokens do in the
  *     batch path.
  *   - A pair sharing several prefix tokens surfaces once per token;
  *     `dropDuplicates` collapses them. Without an event-time watermark that
  *     dedup state is unbounded — fine for a bounded AvailableNow drain (the
  *     test shape) and for bounded ingest windows; the production shape is
  *     [[nearDupAgainstWatermarked]], which keys ingestion time and ages
  *     pair-state out under a watermark.
  *
  * At scale: the stream never shuffles against the corpus — the index join
  * is the same equi-join q24 runs, with the static side persisted; per
  * micro-batch cost is proportional to the batch's prefix tokens, not to
  * corpus size.
  */
object DocStream {

  /** documents.parquet schema (TESTDATA.md). */
  val rawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File stream over a directory of documents.parquet batches. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir)

  /** documents schema + the ingestion timestamp a production stream keys
    * its watermark on. */
  val rawSchemaTs: StructType =
    StructType(rawSchema.fields :+ StructField("ingest_ts", TimestampType))

  /** File stream over timestamped document batches (`rawSchemaTs`). */
  def readDocsTs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(rawSchemaTs)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir)

  /** Static-side artifacts, built once per existing-corpus snapshot:
    * the broadcast df-rank table and the prefix index carrying full ranked
    * arrays (ex_id, ex_hs, ex_nsh, shh), cached. */
  def nearDupIndex(staticDocs: DataFrame, threshold: Double)
      : (Broadcast[(Array[Long], Array[Long])], DataFrame) = {
    val hashed = Dedup.hashShingles(staticDocs)
    val btable = Dedup.dfRankTable(hashed)
    val index = Dedup.rankDocs(hashed, btable)
      .select(col("doc_id").as("ex_id"), col("hs").as("ex_hs"),
        col("nsh").as("ex_nsh"),
        explode(Dedup.prefixSliceExpr(threshold)).as("shh"))
      .cache()
    (btable, index)
  }

  /** fresh document stream → the subset that is a byte-identical duplicate
    * of an existing document (raw-text md5 equality, the q23 rule) — the
    * cheap first gate an ingest pipeline runs before near-dup checks. The
    * fingerprint set of a 100 TB corpus is still just 16 bytes/doc, so the
    * stream-static join stays an equi-join on the hash; dedup within the
    * stream itself is `dropDuplicatesWithinWatermark` (EventStream). */
  def exactDupAgainst(freshDocs: DataFrame, staticDocs: DataFrame): DataFrame = {
    val fps = staticDocs.select(md5(col("text")).as("fp")).distinct()
    freshDocs
      .select(col("doc_id").as("fresh_id"), md5(col("text")).as("fp"))
      .join(fps, Seq("fp"), "left_semi")
  }

  /** Map-side Bloom gate in front of `exactDupAgainst`: the static corpus's
    * fingerprint filter is built ONCE per snapshot (one aggregate job,
    * numBits/8 bytes collected) and baked into the stream's filter as an
    * array LITERAL — each micro-batch row probes with two splitmix64 mixes
    * + k word loads, no stream-static join at all. Output is a SUPERSET of
    * the exact gate's (Bloom false positives pass — the exact equi-join
    * behind it stays authoritative; false negatives are impossible, spec'd
    * in DocStreamSpec). Worth it when most fresh docs are new: those rows
    * short-circuit map-side and never reach the join. At 100 TB the filter
    * is MBs against a corpus whose exact fingerprint set is TBs. */
  def bloomGate(freshDocs: DataFrame, staticDocs: DataFrame,
      numBits: Int = 1 << 20, numHashes: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    graft.functions.BloomAgg.register(staticDocs.sparkSession)
    val words = staticDocs.select(md5(col("text")).as("fp"))
      .agg(expr(s"graft_bloom_agg(xxhash64(fp), $numBits, $numHashes)").as("b"))
      .head().getSeq[Long](0).toArray
    val probe = GraftColumnBridge.column(graft.functions.BloomContains(
      Literal.create(words, ArrayType(LongType, containsNull = false)),
      GraftColumnBridge.expression(expr("xxhash64(fp)"))))
    freshDocs
      .select(col("doc_id").as("fresh_id"), md5(col("text")).as("fp"))
      .filter(probe)
  }

  /** fresh document stream → (fresh_id, ex_id, jaccard) for every J ≥ t
    * match against the static corpus. Exact — candidates from the prefix
    * equi-join, verified in place against the carried arrays. */
  def nearDupAgainst(freshDocs: DataFrame,
      btable: Broadcast[(Array[Long], Array[Long])],
      index: DataFrame, threshold: Double): DataFrame =
    Dedup.rankDocs(Dedup.hashShingles(freshDocs), btable)
      .select(col("doc_id"), col("hs"), col("nsh"),
        explode(Dedup.prefixSliceExpr(threshold)).as("shh"))
      .join(index, Seq("shh"))
      .filter(least(col("nsh"), col("ex_nsh")).cast("double") >=
        greatest(col("nsh"), col("ex_nsh")) * threshold)
      .withColumn("inter", size(array_intersect(col("hs"), col("ex_hs"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nsh") + col("ex_nsh") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id").as("fresh_id"), col("ex_id"), col("jaccard"))
      .dropDuplicates("fresh_id", "ex_id")

  /** Static-side artifacts for the streamed CONTAINMENT gate: the rank
    * table plus the FULL-token inverted index — the asymmetric mirror of
    * [[nearDupIndex]] (the contained side is the probe, so only the fresh
    * stream carries prefixes; the index must hold every static token
    * because the containing doc can be arbitrarily larger). */
  def containmentIndex(staticDocs: DataFrame)
      : (Broadcast[(Array[Long], Array[Long])], DataFrame) = {
    val hashed = Dedup.hashShingles(staticDocs)
    val btable = Dedup.dfRankTable(hashed)
    val index = Dedup.rankDocs(hashed, btable)
      .select(col("doc_id").as("ex_id"), col("hs").as("ex_hs"),
        explode(col("hs")).as("shh"))
      .cache()
    (btable, index)
  }

  /** [[containmentIndex]] REHYDRATED from the q164 segment artifact: a
    * stream RESTART reads the persisted rank table plus the segment
    * union instead of re-hashing the whole static corpus (the round-18
    * gap — the artifact exists precisely to amortize that build). The
    * persisted rank order replaces the fresh one; any consistent total
    * order preserves prefix containment (the containmentServeFresh
    * argument), so the gate's pairs are IDENTICAL either way
    * (DocStreamSpec differential: artifact-fed ≡ staticDocs-fed). */
  def containmentIndexFromArtifact(s: SparkSession, path: String)
      : (Broadcast[(Array[Long], Array[Long])], DataFrame) = {
    val btable = Dedup.containmentRankTable(s, path)
    val index = Dedup.containmentSegmentDocs(s, path)
      .select(col("doc_id").as("ex_id"), col("hs").as("ex_hs"),
        explode(col("hs")).as("shh"))
      .cache()
    (btable, index)
  }

  /** fresh document stream → (fresh_id, ex_id, containment) for every
    * fresh doc ≥ t CONTAINED in a static doc — excerpt/quote detection at
    * ingest, the asymmetric gate [[nearDupAgainst]] misses (a quoted
    * paragraph of a long doc has tiny Jaccard). Exact and complete with
    * NO order assumption: if ≥ ⌈t·n⌉ of the fresh doc's n tokens are in a
    * static doc, any (n − ⌈t·n⌉ + 1)-subset of its tokens intersects that
    * doc (pigeonhole), and the index carries ALL static tokens — so the
    * prefix probe finds every qualifying pair regardless of rank drift
    * between snapshot and stream. Pure per-row vs frozen state ⇒
    * streamed ≡ batch under any batching (DocStreamSpec differential). */
  def containmentAgainst(freshDocs: DataFrame,
      btable: Broadcast[(Array[Long], Array[Long])],
      index: DataFrame, threshold: Double): DataFrame =
    Dedup.rankDocs(Dedup.hashShingles(freshDocs), btable)
      .select(col("doc_id"), col("hs"), col("nsh"),
        explode(Dedup.prefixSliceExpr(threshold)).as("shh"))
      .join(index, Seq("shh"))
      .filter(col("doc_id") =!= col("ex_id"))
      .withColumn("inter", size(array_intersect(col("hs"), col("ex_hs"))).cast("long"))
      .withColumn("containment", col("inter").cast("double") / col("nsh"))
      .filter(col("containment") >= threshold)
      .select(col("doc_id").as("fresh_id"), col("ex_id"), col("containment"))
      .dropDuplicates("fresh_id", "ex_id")

  /** [[containmentAgainst]] under the q162 SIZE RULE at ingest: a fresh
    * doc flags as an excerpt only when its container is at least its own
    * shingle size (the static corpus is the earlier side, so equal-size
    * exact twins flag too — the stream analogue of q162's keep-the-
    * smaller-id tie-break). The funnel's excerpt stage (q154 stage 5)
    * and this gate share the q162 detector, so batch and stream can
    * never drift on what counts as an excerpt. */
  def excerptAgainst(freshDocs: DataFrame,
      btable: Broadcast[(Array[Long], Array[Long])],
      index: DataFrame, threshold: Double): DataFrame =
    Dedup.rankDocs(Dedup.hashShingles(freshDocs), btable)
      .select(col("doc_id"), col("hs"), col("nsh"),
        explode(Dedup.prefixSliceExpr(threshold)).as("shh"))
      .join(index, Seq("shh"))
      .filter(col("doc_id") =!= col("ex_id"))
      .filter(size(col("ex_hs")).cast("long") >= col("nsh"))
      .withColumn("inter", size(array_intersect(col("hs"), col("ex_hs"))).cast("long"))
      .withColumn("containment", col("inter").cast("double") / col("nsh"))
      .filter(col("containment") >= threshold)
      .select(col("doc_id").as("fresh_id"), col("ex_id"), col("containment"))
      .dropDuplicates("fresh_id", "ex_id")

  /** Per-micro-batch CURATION — q154's funnel rules at ingest time, against
    * a FROZEN accepted-corpus snapshot: each arriving doc gets the full
    * rule bitmap `(pass_lang, pass_quality, dup_exact, dup_near,
    * contaminated, kept)` where the language/quality predicates are
    * q21/q20's shared helpers, exact/near dup are the stream-static gates
    * above ([[exactDupAgainst]]'s fp semi-join, [[nearDupAgainst]]'s
    * prefix index), and contamination is q54's gram rule against the
    * frozen eval set. Every flag is a pure per-row function of (doc,
    * frozen state), so ANY batching yields the same bitmap — no
    * cross-batch state, streaming-legal under any trigger (within-stream
    * dedup is deliberately out of scope: that is the STATEFUL path —
    * `dropDuplicatesWithinWatermark` for exact, [[clusterAppendBatch]]'s
    * fold for near-dup — which updates the snapshot between batches).
    * State arguments are the PREPARED forms (fp set, rank table + prefix
    * index, distinct eval grams), built once per snapshot by the caller —
    * rebuilding corpus-sized state per micro-batch is the q133
    * anti-pattern. */
  def curateBatch(batch: DataFrame, staticFps: DataFrame,
      btable: Broadcast[(Array[Long], Array[Long])], index: DataFrame,
      threshold: Double, evalGrams: DataFrame,
      containIndex: Option[DataFrame] = None): DataFrame = {
    import graft.ops.{Corpus, TextOps}
    val scored = TextOps.withTextStats(TextOps.withLangPred(
        batch.select("doc_id", "text")))
      .select(col("doc_id"), col("text"),
        (col("lang_pred") === "en").as("pass_lang"),
        (col("quality") === "keep").as("pass_quality"))
    val exact = batch.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(staticFps, Seq("fp"), "left_semi")
      .select("doc_id").distinct().withColumn("dup_exact", lit(true))
    val near = nearDupAgainst(batch, btable, index, threshold)
      .select(col("fresh_id").as("doc_id")).distinct()
      .withColumn("dup_near", lit(true))
    // the OPTIONAL excerpt gate (q154 stage 5's stream face): present only
    // when the caller prepared the FULL-token containment index — the
    // near-dup prefix index cannot serve it (the containing side is
    // unbounded, so its index must carry every static token)
    val excerpt = containIndex.map { ci =>
      excerptAgainst(batch, btable, ci, 0.8)
        .select(col("fresh_id").as("doc_id")).distinct()
        .withColumn("dup_excerpt", lit(true))
    }
    val contam = Corpus.decontGrams(
        batch.select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= Corpus.DecontN))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select("doc_id").distinct().withColumn("contaminated", lit(true))
    excerpt.foldLeft(scored
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left"))((acc, e) =>
        acc.join(e, Seq("doc_id"), "left"))
      .join(contam, Seq("doc_id"), "left")
      .withColumn("dup_excerpt",
        if (containIndex.isDefined) col("dup_excerpt") else lit(false))
      .na.fill(false, Seq("dup_exact", "dup_near", "dup_excerpt", "contaminated"))
      .withColumn("kept", col("pass_lang") && col("pass_quality") &&
        !col("dup_exact") && !col("dup_near") && !col("dup_excerpt") &&
        !col("contaminated"))
      .select("doc_id", "pass_lang", "pass_quality", "dup_exact",
        "dup_near", "dup_excerpt", "contaminated", "kept")
  }

  /** Per-micro-batch TOKENIZER-DRIFT monitor — the third step of the
    * subword lifecycle (q150 trains, q152/q145 apply, this WATCHES): under
    * the frozen vocab, count how many greedy steps fell back to a single
    * uncovered character. A rising fallback share means the corpus has
    * drifted from the vocabulary's training distribution — the retrain
    * signal, exactly the role codebook-drift (q109) plays for the vector
    * index. One additive row per batch `(n_docs, n_words, n_subwords,
    * n_fallback)` — plain BIGINT sums, so per-batch rows fold into any
    * window's totals exactly (the gramSketch additivity convention) and
    * the ratio is derived AT READ time, never stored. Cost ∝ batch
    * (the q145 kernel: distinct words × bounded fold, broadcast vocab);
    * stateless, streaming-legal under any trigger. */
  def vocabOovBatch(batch: DataFrame, vocab: DataFrame,
      candLens: Seq[Int]): DataFrame =
    graft.ops.TextOps.subwordVocabCounts(
        batch.select("doc_id", "text"), vocab, candLens)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_subwords")).cast("long").as("n_subwords"),
        sum(col("n_fallback")).cast("long").as("n_fallback"))

  /** One 4 KiB HLL sketch row per source PER MICRO-BATCH — the continuous
    * cardinality profile of an ingest stream. Run inside `foreachBatch` and
    * append the rows to a sketch table: each batch costs one pass over THAT
    * batch (the corpus is never re-read), and the persisted rows compose by
    * max-merge, so "how many distinct documents has this stream seen, per
    * source and overall" is answerable at any time from KBs of sketches
    * ([[mergeSketches]]). Same register semantics as the batch q96
    * ([[graft.ops.TextOps.hllDerive]]), so batch and stream sketches are
    * mutually mergeable — the q65 Bloom persist-and-compose convention
    * applied to cardinality. */
  def docSketches(batch: DataFrame): DataFrame = {
    graft.functions.HllAgg.register(batch.sparkSession)
    graft.ops.TextOps.hllDerive(batch)
      .groupBy("source")
      .agg(expr("graft_hll_agg(bucket, rho)").as("sk"))
  }

  /** Persisted per-batch sketch rows → per-source + '_all_' cardinality
    * estimates. Reads ONLY sketch rows (batches × sources × 4 KiB); the
    * answer for a 100 TB stream history costs a KB-scale fold. */
  def mergeSketches(sketches: DataFrame): DataFrame = {
    graft.functions.HllAgg.register(sketches.sparkSession)
    val perSrc = sketches.groupBy("source")
      .agg(expr("graft_hll_merge(sk)").as("sk")).cache()
    perSrc.count()
    val allRow = perSrc.agg(expr("graft_hll_merge(sk)").as("sk"))
      .select(lit("_all_").as("source"), col("sk"))
    graft.ops.TextOps.hllEstimate(
      perSrc.select(col("source"), col("sk")).unionByName(allRow))
  }

  /** `nearDupAgainst` under an event-time WATERMARK — the production shape.
    * The unwatermarked path's pair-dedup state (a candidate pair surfaces
    * once per shared prefix token) grows with the stream forever; here the
    * fresh side carries `ingest_ts`, the watermark bounds how late a batch
    * may arrive, and `dropDuplicatesWithinWatermark` ages pair-state out
    * once the watermark passes it. This is the path that catches MUTATED
    * duplicates continuously — candidates come from the df-ranked prefix
    * probe against the static index (the q70 batch path's streaming form),
    * not from byte identity — so a paraphrased or lightly-edited copy is
    * flagged the micro-batch it lands, with state proportional to the
    * watermark window, not to stream history. Matches equal the
    * unwatermarked path for rows inside the delay (differential in
    * DocStreamSpec against the batch incremental path); rows later than
    * the delay may be dropped — the standard streaming trade. */
  def nearDupAgainstWatermarked(freshDocs: DataFrame,
      btable: Broadcast[(Array[Long], Array[Long])],
      index: DataFrame, threshold: Double, delay: String = "10 minutes"): DataFrame =
    Dedup.rankDocs(Dedup.hashShingles(freshDocs, Seq("ingest_ts")), btable, Seq("ingest_ts"))
      .withWatermark("ingest_ts", delay)
      .select(col("doc_id"), col("ingest_ts"), col("hs"), col("nsh"),
        explode(Dedup.prefixSliceExpr(threshold)).as("shh"))
      .join(index, Seq("shh"))
      .filter(least(col("nsh"), col("ex_nsh")).cast("double") >=
        greatest(col("nsh"), col("ex_nsh")) * threshold)
      .withColumn("inter", size(array_intersect(col("hs"), col("ex_hs"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nsh") + col("ex_nsh") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id").as("fresh_id"), col("ex_id"), col("jaccard"), col("ingest_ts"))
      .dropDuplicatesWithinWatermark("fresh_id", "ex_id")

  /** STREAMING LM QUALITY SCORING — score a fresh-document micro-batch
    * against the PERSISTED interpolated-KN bigram model (q107's
    * `TextOps.knModel` written to parquet): the LM analogue of the ANN
    * serving loop — the model trains once on the frozen corpus and every
    * ingest batch is scored under it map-side-plus-one-equi-join, so a
    * quality gate can sit directly on the ingest stream (drop/flag
    * low-scoring documents before they enter the corpus). Run inside
    * `foreachBatch` (per-doc aggregation is batch-local by construction:
    * a document arrives whole in its batch). Delegates to the batch
    * `knScore` VERBATIM — streamed ≡ batch scores bit-for-bit for the
    * same documents under the same model frame (DocStreamSpec), because
    * parquet round-trips doubles exactly and the fixed-point per-doc Σ
    * is order-independent. Model refresh is a periodic batch retrain
    * (the IVF-PQ codebook convention — never mutated mid-stream). */
  def knScoreBatch(batch: DataFrame, model: DataFrame): DataFrame =
    graft.ops.TextOps.knScore(
      batch.select(col("doc_id"), split(col("text"), " ").as("w")), model)

  /** STREAMING LEXICAL-INDEX MAINTENANCE — fold a fresh-document
    * micro-batch into a persisted segmented lexical index (q113/q115's
    * artifact): the text analogue of [[graft.streaming.VecStream
    * .graphAppend]]. Run inside `foreachBatch` with a per-batch segment
    * name (e.g. `s"seg$batchId"`); delegates to the batch
    * [[graft.ops.Retrieval.lexIndexAppend]] VERBATIM — tokenize + count
    * the batch only, base segments untouched — so streamed-segmented serve
    * ≡ one-shot full-corpus index BIT-FOR-BIT for any batching
    * (DocStreamSpec): the q115 additivity identity (postings are per-doc
    * rows, df/n_docs/tot_dl are sums) gives exactness with no
    * approximation, and each segment is immutable so a concurrent serve
    * never sees a torn write. On a versioned base, append into the
    * resolved root and run [[graft.ops.Retrieval.maybeCompactLexVersioned]]
    * between batches to keep the segment count under a tier. */
  def lexAppendBatch(s: SparkSession, path: String, batch: DataFrame, seg: String): Unit =
    graft.ops.Retrieval.lexIndexAppend(s, path,
      batch.select(col("doc_id"), split(col("text"), " ").as("w")), seg)

  /** Fold a DELETE micro-batch into the segmented lexical index — the
    * streaming half of the q126 tombstone contract, and the same
    * immutability argument as [[lexAppendBatch]]: each batch of deleted
    * doc_ids lands as its OWN tiny tombstone file (never a rewrite of
    * segments or of earlier tombstones), so deletes from the stream
    * compose with concurrent serves and appends; the serve-time
    * corrections ([[graft.ops.Retrieval.lexIndexServe]]) are additive
    * over the union of tombstone files, so streamed deletes ≡ one batch
    * delete bit-for-bit for any batching (DocStreamSpec). Physical
    * reclamation stays the compaction's job (q126's no-resurrection
    * contract). Batch tombstone files are written errorifexists: a
    * published root only ever gains files, never has one rewritten. */
  def tombstoneBatch(s: SparkSession, path: String, ids: DataFrame, name: String): Unit =
    graft.ops.Artifacts.DocTombstones.add(ids, path, name)

  /** Fold a fresh-document micro-batch into the persisted near-dup CLUSTER
    * LABELS — the streaming half of the q129 contract, keeping the split
    * key (q108) and collapse key (q124/q128) current on a live ingest
    * stream without ever re-comparing existing×existing documents. Two
    * copy-on-write artifacts roll forward per batch (the
    * [[graft.streaming.VecStream.graphAppend]] convention — new version
    * dirs, the retire/swap is the caller's step):
    *   - the RANKED-CORPUS probe side (df-ranked hash arrays, the
    *     [[graft.ops.Dedup.corpusArtifact]] shape, ranked once under the
    *     frozen broadcast rank table — rank CONSISTENCY is all All-Pairs
    *     prefix containment needs, the `incrementalFrom` argument), grown
    *     by the batch's rows so the NEXT batch probes corpus ∪ history;
    *   - the LABELS, refolded by q129's kernel: label edges ∪ the batch's
    *     one-sided-probe pairs → min-label fixpoint.
    * Streamed ≡ one-shot full recluster bit-for-bit by induction on the
    * per-step q129 identity (DocStreamSpec). */
  def clusterAppendBatch(s: SparkSession, rankedIn: String, labelsIn: String,
      btable: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])],
      batch: DataFrame, threshold: Double,
      rankedOut: String, labelsOut: String): Unit = {
    import graft.ops.Dedup
    // copy-on-write guard (the lexIndexCompact/ivfCodesCompact contract):
    // the labels write goes through an RDD-backed lineage (clusterPairs)
    // where Spark's self-overwrite detection may not trip, so an in-place
    // outPath could CORRUPT the artifact instead of failing fast. All
    // FOUR roots must be pairwise distinct after path normalization —
    // cross-aliasing (labelsOut == rankedIn) or a trailing-slash spelling
    // of the same dir corrupts just as surely as the direct case
    val norm = Seq(rankedIn, labelsIn, rankedOut, labelsOut)
      .map(p => new org.apache.hadoop.fs.Path(p).toString)
    require(norm.distinct.size == 4,
      "copy-on-write: the four artifact roots must be pairwise distinct " +
        s"(got rankedIn=$rankedIn labelsIn=$labelsIn rankedOut=$rankedOut labelsOut=$labelsOut)")
    val corpusRanked = s.read.parquet(rankedIn)
    val labels = s.read.parquet(labelsIn)
    val freshPairs = Dedup.incrementalFrom(corpusRanked, btable, batch, threshold)
      .select("a_id", "b_id")
    Dedup.clusterPairs(
      labels.select(col("doc_id").as("a_id"), col("cluster_id").as("b_id"))
        .unionByName(freshPairs))
      .write.mode("overwrite").parquet(labelsOut)
    corpusRanked
      .unionByName(Dedup.rankDocs(Dedup.hashShingles(batch), btable))
      .write.mode("overwrite").parquet(rankedOut)
  }
}
